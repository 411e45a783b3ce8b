"""Polygon×polygon overlay: intersection area between a (large) subject
polygon layer and a (dimension-sized) CONVEX clip/zone layer — the areal-
interpolation / land-use-overlay primitive (the reference delegates
geometry set-ops to JTS, e.g. Feature.toGeometry() consumers; here the
overlay is a first-class distributed operator).

Spark-first shape: the zone layer broadcasts (zone tables are
dimension-sized at any corpus scale); the subject layer is scanned ONCE —
bbox prefilter inside the broadcast nested-loop join, then a chain of
``clip_k`` Sutherland–Hodgman half-plane passes and one shoelace fold,
all pure JVM higher-order Columns (zero shuffle, zero Python).

Cross-engine determinism: every pass/fold expression is emitted from the
SAME generator for Spark and DuckDB with textually identical float op
order (the tiles_sink.sh_clip_pass_expr law); the chain contains no
transcendentals — products, sums, and one guarded division per crossing —
so results are IEEE-bit-identical and the quantized output hash cannot
drift.  Each pass LET-BINDS its input ring (referenced once), keeping
chained passes linear in size (the CollapseProject blow-up lesson,
tiles_sink.py:418-427).

Contract: clip rings must be CONVEX with exactly ``clip_k`` vertices
(orientation is auto-normalized via the exact shoelace sign).  Subject
rings may be any SIMPLE polygon; the standard S-H caveat applies — a
non-convex subject that enters and leaves a zone more than once yields
one ring with zero-width bridge edges, whose shoelace contributions
cancel, so the AREA (this operator's output) stays correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _engine_ops(engine: str, tag: str, r: str):
    """Shared expression-builder kit (mirrors sh_clip_pass_expr)."""
    rr, s_, e_, v_ = f"rr{tag}", f"s{tag}", f"e{tag}", f"v{tag}"
    if engine == "spark":
        s, e = s_, e_
        rot = f"concat(slice({rr}, size({rr}), 1), slice({rr}, 1, size({rr}) - 1))"

        def struct_(ix, iy):
            return f"named_struct('x', {ix}, 'y', {iy})"

        def zip_(body):
            return f"zip_with({rot}, {rr}, ({s_}, {e_}) -> {body})"

        def let_(body):
            return f"element_at(transform(array({r}), {rr} -> {body}), 1)"

        flt, ln = "filter", "size"

        def arr(items):
            return f"array({', '.join(items)})"

    else:
        s, e = f"p{tag}[1]", f"p{tag}[2]"
        rot = f"list_concat({rr}[-1:], {rr}[:len({rr}) - 1])"

        def struct_(ix, iy):
            return f"{{'x': {ix}, 'y': {iy}}}"

        def zip_(body):
            return f"list_transform(list_zip({rot}, {rr}), p{tag} -> {body})"

        def let_(body):
            return f"(list_transform([{r}], {rr} -> {body}))[1]"

        flt, ln = "list_filter", "len"

        def arr(items):
            return f"[{', '.join(items)}]"

    return rr, s, e, v_, rot, struct_, zip_, let_, flt, ln, arr


def halfplane_pass_expr(
    r: str, ax: str, ay: str, bx: str, by: str, engine: str, tag: str = ""
) -> str:
    """One S-H clip pass against the ARBITRARY half-plane left of the
    directed edge A→B (CCW clip ⇒ interior), as an expression string
    over a ring column ``r`` (array<struct<x,y>> double) — the general
    sibling of tiles_sink.sh_clip_pass_expr (axis-aligned bounds).

    inside(P) = (bx−ax)·(P.y−ay) − (by−ay)·(P.x−ax) ≥ 0; on a crossing
    edge t = f(s)/(f(s)−f(e)) (denominator nonzero exactly when the
    inside tests differ, so the division stays under the crossing
    branch), intersection = s + t·(e−s).  Emission table, let-binding,
    type-stable 2-slot arrays and the <3-vertex pass-through are
    identical to the axis-aligned pass.  ``ax``..``by`` are expression
    strings (column refs / element_at lookups), constant per pass.
    """
    rr, s, e, v_, _rot, struct_, zip_, let_, flt, ln, arr = _engine_ops(engine, tag, r)

    def f_of(p):
        return (
            f"((({bx}) - ({ax})) * ({p}.y - ({ay}))"
            f" - (({by}) - ({ay})) * ({p}.x - ({ax})))"
        )

    fs, fe = f_of(s), f_of(e)
    ins_s, ins_e = f"({fs} >= 0)", f"({fe} >= 0)"
    t = f"({fs} / ({fs} - {fe}))"
    inter = struct_(
        f"{s}.x + {t} * ({e}.x - {s}.x)",
        f"{s}.y + {t} * ({e}.y - {s}.y)",
    )
    body = arr(
        [
            f"case when {ins_s} != {ins_e} then {inter} else null end",
            f"case when {ins_e} then {e} else null end",
        ]
    )
    clipped = f"{flt}(flatten({zip_(body)}), {v_} -> {v_} is not null)"
    empty = f"{flt}({rr}, {v_} -> false)"
    return let_(f"case when {ln}({rr}) >= 3 then {clipped} else {empty} end")


def shoelace2_expr(r: str, engine: str, tag: str = "a") -> str:
    """TWICE the signed ring area as an expression string — the exact
    shoelace fold Σ (prev.x·cur.y − cur.x·prev.y) in index order,
    emitted identically for both engines (sum order fixed)."""
    rr, s, e, _v, _rot, _st, zip_, let_, _flt, _ln, _arr = _engine_ops(engine, tag, r)
    term = f"{s}.x * {e}.y - {e}.x * {s}.y"
    if engine == "spark":
        fold = f"aggregate({zip_(term)}, cast(0.0 as double), (acc{tag}, x{tag}) -> acc{tag} + x{tag})"
    else:
        fold = f"coalesce(list_sum({zip_(term)}), 0.0)"
    return let_(fold)


def ring_area_positive_expr(r: str, engine: str) -> str:
    """Zone guard: TRUE iff the ring has a nonzero interior
    (|shoelace| > 0).  A degenerate zone (all vertices coincident, or
    collinear) has no interior, but Sutherland–Hodgman half-planes
    built from coincident points are VACUOUS (cross = 0 keeps every
    vertex), so an unfiltered degenerate zone would "contain" every
    subject that reaches the clip chain — and then the bbox prefilter,
    a plan optimization, would decide row membership (found by the
    overlay fuzz: a collapsed 4-gon made the engines disagree on which
    segments a point-zone "contains").  The guard runs on the RAW ring
    on BOTH engines: reversal changes the shoelace summation order and
    can move the last ulp, so filtering pre-normalization is the only
    bit-identical form."""
    return f"abs({shoelace2_expr(r, engine, tag='zg')}) > 0"


def ccw_ring_expr(r: str, engine: str, tag: str = "n") -> str:
    """Orientation normalizer: reverse the ring when its signed shoelace
    area is negative (CW) — exact, since the sign test is on the same
    IEEE value both engines compute."""
    sh = shoelace2_expr(r, engine, tag=f"{tag}s")
    rev = f"reverse({r})" if engine == "spark" else f"list_reverse({r})"
    return f"case when {sh} < 0 then {rev} else {r} end"


def _zones_sql(cid: str) -> str:
    """The DuckDB twins' zone select over the ``clip0`` CTE: degenerate
    zones dropped by the guard, the rest CCW-normalized as ``cr``.  Both
    expressions name the raw ``clip0.cr`` so DuckDB cannot bind the
    same-level ``cr`` alias (the normalized ring) in the guard."""
    return (
        f"select {cid}, {ccw_ring_expr('clip0.cr', 'duckdb')} as cr from clip0"
        f" where {ring_area_positive_expr('clip0.cr', 'duckdb')}"
    )


def _edge_exprs(cring: str, clip_k: int, engine: str) -> list[tuple[str, str, str, str]]:
    """(ax, ay, bx, by) expression strings for each directed edge of a
    clip ring column holding exactly ``clip_k`` vertices (1-based
    indexing in both engines)."""
    out = []
    for i in range(1, clip_k + 1):
        j = 1 if i == clip_k else i + 1
        if engine == "spark":
            a, b = f"element_at({cring}, {i})", f"element_at({cring}, {j})"
        else:
            a, b = f"{cring}[{i}]", f"{cring}[{j}]"
        out.append((f"{a}.x", f"{a}.y", f"{b}.x", f"{b}.y"))
    return out


def overlay_area(
    subject: DataFrame,
    clip: DataFrame,
    clip_k: int,
    sid: str = "sid",
    cid: str = "cid",
    s_ring: str = "ring",
    c_ring: str = "cring",
    quant: int = 3,
) -> DataFrame:
    """Intersection area per (subject, zone) pair — see module docstring.

    Input: ``subject`` (sid, s_ring) with OPEN rings (first vertex not
    repeated), any simple orientation; ``clip`` (cid, c_ring) CONVEX
    open rings of exactly ``clip_k`` vertices, any orientation.
    Output: (sid, cid, inter_area) for pairs with positive area,
    inter_area floor-form quantized at 10^-quant (both engines emit the
    identical IEEE double, the quantization is the repo's output law).

    Scale: zones broadcast; subjects stream through one codegen stage.
    bbox prefilter culls the nested-loop early — only bbox-overlapping
    pairs pay the clip chain.  At 10^12 subjects the plan is unchanged:
    scan → broadcast NLJ (bbox) → clip chain → filter, no shuffle.
    """
    clip = clip.filter(F.expr(ring_area_positive_expr(c_ring, "spark")))
    sxs = F.transform(F.col(s_ring), lambda p: p["x"])
    sys_ = F.transform(F.col(s_ring), lambda p: p["y"])
    cxs = F.transform(F.col(c_ring), lambda p: p["x"])
    cys = F.transform(F.col(c_ring), lambda p: p["y"])
    s_pre = subject.select(
        F.col(sid),
        F.col(s_ring).alias("_sr"),
        F.array_min(sxs).alias("_sx0"),
        F.array_max(sxs).alias("_sx1"),
        F.array_min(sys_).alias("_sy0"),
        F.array_max(sys_).alias("_sy1"),
    )
    c_pre = clip.select(
        F.col(cid),
        F.expr(ccw_ring_expr(c_ring, "spark")).alias("_cr"),
        F.array_min(cxs).alias("_cx0"),
        F.array_max(cxs).alias("_cx1"),
        F.array_min(cys).alias("_cy0"),
        F.array_max(cys).alias("_cy1"),
    )
    j = s_pre.crossJoin(F.broadcast(c_pre)).where(
        (F.col("_sx0") <= F.col("_cx1"))
        & (F.col("_cx0") <= F.col("_sx1"))
        & (F.col("_sy0") <= F.col("_cy1"))
        & (F.col("_cy0") <= F.col("_sy1"))
    )
    cur = "_sr"
    for i, (ax, ay, bx, by) in enumerate(_edge_exprs("_cr", clip_k, "spark"), 1):
        cur = halfplane_pass_expr(cur, ax, ay, bx, by, "spark", tag=f"o{i}")
    j = j.withColumn("_rc", F.expr(cur))
    area = F.expr(f"abs({shoelace2_expr('_rc', 'spark')}) / 2")
    q = 10 ** int(quant)
    qarea = F.floor(area * F.lit(float(q)) + F.lit(0.5)) / F.lit(float(q))
    return (
        j.filter(F.size(F.col("_rc")) >= 3)
        .select(sid, cid, qarea.alias("inter_area"))
        .filter(F.col("inter_area") > 0)
    )


def overlay_area_sql(
    subject_sql: str,
    clip_sql: str,
    clip_k: int,
    sid: str = "sid",
    cid: str = "cid",
    quant: int = 3,
    prefilter: bool = False,
) -> str:
    """DuckDB twin of overlay_area.  ``subject_sql`` yields (sid, r) and
    ``clip_sql`` yields (cid, cr) as list<struct{x,y}> double columns —
    the same passes/folds emitted for the duckdb engine, full cross join
    (the bbox prefilter is a plan optimization, not a semantic one:
    interior overlap implies bbox overlap, so ``prefilter=True`` never
    drops a positive-area pair — use it when BOTH sides are fact-sized
    and the bare cross join would be millions of clip chains)."""
    cur = "r"
    for i, (ax, ay, bx, by) in enumerate(_edge_exprs("cr", clip_k, "duckdb"), 1):
        cur = halfplane_pass_expr(cur, ax, ay, bx, by, "duckdb", tag=f"o{i}")
    q = 10 ** int(quant)
    if prefilter:
        bb = (
            ", list_min(list_transform({r}, p -> p.x)) as {px}x0"
            ", list_max(list_transform({r}, p -> p.x)) as {px}x1"
            ", list_min(list_transform({r}, p -> p.y)) as {px}y0"
            ", list_max(list_transform({r}, p -> p.y)) as {px}y1"
        )
        subj_cte = (
            f"subj as materialized (select {sid}, r"
            + bb.format(r="r", px="s") + f" from ({subject_sql}))"
        )
        clipn_cte = (
            f"clipn as materialized (select {cid}, cr"
            + bb.format(r="cr", px="c")
            + f" from ({_zones_sql(cid)}))"
        )
        where = (
            "where s.sx0 <= c.cx1 and c.cx0 <= s.sx1"
            " and s.sy0 <= c.cy1 and c.cy0 <= s.sy1"
        )
        return f"""
      with clip0 as materialized ({clip_sql}),
      {subj_cte},
      {clipn_cte},
      pairs as (select s.{sid}, c.{cid}, s.r, c.cr from subj s, clipn c {where}),
      clipped as (select {sid}, {cid}, {cur} as rc from pairs),
      ar as (select {sid}, {cid},
                    floor(abs({shoelace2_expr('rc', 'duckdb')}) / 2 * {float(q)!r} + 0.5)
                      / {float(q)!r} as inter_area
             from clipped where len(rc) >= 3)
      select {sid}, {cid}, inter_area from ar where inter_area > 0
    """
    return f"""
      with subj as materialized ({subject_sql}),
      clip0 as materialized ({clip_sql}),
      clipn as ({_zones_sql(cid)}),
      pairs as (select s.{sid}, c.{cid}, s.r, c.cr from subj s cross join clipn c),
      clipped as (select {sid}, {cid}, {cur} as rc from pairs),
      ar as (select {sid}, {cid},
                    floor(abs({shoelace2_expr('rc', 'duckdb')}) / 2 * {float(q)!r} + 0.5)
                      / {float(q)!r} as inter_area
             from clipped where len(rc) >= 3)
      select {sid}, {cid}, inter_area from ar where inter_area > 0
    """


def areal_interpolate(
    subject: DataFrame,
    clip: DataFrame,
    clip_k: int,
    value_col: str,
    sid: str = "sid",
    cid: str = "cid",
    s_ring: str = "ring",
    c_ring: str = "cring",
) -> DataFrame:
    """Areal-weighted interpolation — transfer a subject-level quantity
    onto zones by intersection share (the census/population
    reaggregation standard): each subject contributes
    value · area(subject ∩ zone) / area(subject) to every zone it
    touches.

    Determinism at the aggregate: the per-pair weighted value is
    floor-quantized to integer MICRO-UNITS and summed as bigints (the
    CLAUDE.md integer micro-nat law) — the zone sums are order-free and
    exact, so re-partitioning can never flip a hash.  share and area
    are transcendental-free IEEE-identical doubles (see overlay_area).

    Output: (cid, n_parts, value_micro_sum) — n_parts the number of
    contributing subjects, value_micro_sum the zone total in 1e-6
    units (caller divides for display).  Zero-area subjects are
    excluded (no defined share).  Same broadcast/zero-shuffle plan as
    overlay_area plus ONE aggregation shuffle keyed by zone.
    """
    clip = clip.filter(F.expr(ring_area_positive_expr(c_ring, "spark")))
    sxs = F.transform(F.col(s_ring), lambda p: p["x"])
    sys_ = F.transform(F.col(s_ring), lambda p: p["y"])
    cxs = F.transform(F.col(c_ring), lambda p: p["x"])
    cys = F.transform(F.col(c_ring), lambda p: p["y"])
    s_pre = subject.select(
        F.col(sid),
        F.col(value_col).cast("double").alias("_val"),
        F.col(s_ring).alias("_sr"),
        F.array_min(sxs).alias("_sx0"),
        F.array_max(sxs).alias("_sx1"),
        F.array_min(sys_).alias("_sy0"),
        F.array_max(sys_).alias("_sy1"),
    )
    c_pre = clip.select(
        F.col(cid),
        F.expr(ccw_ring_expr(c_ring, "spark")).alias("_cr"),
        F.array_min(cxs).alias("_cx0"),
        F.array_max(cxs).alias("_cx1"),
        F.array_min(cys).alias("_cy0"),
        F.array_max(cys).alias("_cy1"),
    )
    j = s_pre.crossJoin(F.broadcast(c_pre)).where(
        (F.col("_sx0") <= F.col("_cx1"))
        & (F.col("_cx0") <= F.col("_sx1"))
        & (F.col("_sy0") <= F.col("_cy1"))
        & (F.col("_cy0") <= F.col("_sy1"))
    )
    cur = "_sr"
    for i, (ax, ay, bx, by) in enumerate(_edge_exprs("_cr", clip_k, "spark"), 1):
        cur = halfplane_pass_expr(cur, ax, ay, bx, by, "spark", tag=f"o{i}")
    j = j.withColumn("_rc", F.expr(cur))
    ia = F.expr(f"abs({shoelace2_expr('_rc', 'spark')}) / 2")
    sa = F.expr(f"abs({shoelace2_expr('_sr', 'spark', tag='b')}) / 2")
    micro = F.floor(F.col("_val") * (F.col("_ia") / F.col("_sa")) * F.lit(1e6) + F.lit(0.5)).cast(
        "bigint"
    )
    return (
        j.filter(F.size(F.col("_rc")) >= 3)
        .select(sid, cid, F.col("_val").alias("_val"), ia.alias("_ia"), sa.alias("_sa"))
        .filter((F.col("_ia") > 0) & (F.col("_sa") > 0))
        .select(sid, cid, micro.alias("_m"))
        .groupBy(cid)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("_m").alias("value_micro_sum"),
        )
    )


def areal_interpolate_sql(
    subject_sql: str,
    clip_sql: str,
    clip_k: int,
    sid: str = "sid",
    cid: str = "cid",
) -> str:
    """DuckDB twin of areal_interpolate — ``subject_sql`` yields
    (sid, val, r); identical pass/fold/quantize op order."""
    cur = "r"
    for i, (ax, ay, bx, by) in enumerate(_edge_exprs("cr", clip_k, "duckdb"), 1):
        cur = halfplane_pass_expr(cur, ax, ay, bx, by, "duckdb", tag=f"o{i}")
    return f"""
      with subj as materialized ({subject_sql}),
      clip0 as materialized ({clip_sql}),
      clipn as ({_zones_sql(cid)}),
      pairs as (select s.{sid}, c.{cid}, s.val, s.r, c.cr
                from subj s cross join clipn c),
      clipped as (select {sid}, {cid}, val, r, {cur} as rc from pairs),
      ar as (select {sid}, {cid}, val,
                    abs({shoelace2_expr('rc', 'duckdb')}) / 2 as ia,
                    abs({shoelace2_expr('r', 'duckdb', tag='b')}) / 2 as sa
             from clipped where len(rc) >= 3),
      mi as (select {cid},
                    cast(floor(val * (ia / sa) * 1e6 + 0.5) as bigint) as m
             from ar where ia > 0 and sa > 0)
      select {cid}, cast(count(*) as bigint) as n_parts,
             cast(sum(m) as bigint) as value_micro_sum
      from mi group by {cid}
    """


def _cyrus_beck_len_expr(
    x1: str,
    y1: str,
    x2: str,
    y2: str,
    edges: list[tuple[str, str, str, str]],
    engine: str,
    quant: int,
) -> str:
    """Cyrus–Beck parametric clip of the segment (x1,y1)→(x2,y2) against
    the convex CCW polygon given by directed ``edges``, returning ONE
    expression for the quantized inside-length (identical text for both
    engines: only +,−,×, one guarded division per edge, greatest/least,
    CASE, a final sqrt).

    Per edge with f(P) = cross(B−A, P−A) (≥0 inside): f increasing
    along the segment ⇒ entering at t* = f₀/(f₀−f₁) ⇒ t0 = max(t0,t*);
    decreasing ⇒ exiting ⇒ t1 = min(t1,t*); constant-outside ⇒ t0 = 2
    (rejects, since t0>t1).  The division only evaluates under the
    f₀≠f₁ branches.

    The (t0, t1) state threads through the chain as a per-edge
    LET-BOUND struct (each state referenced exactly once by the next),
    so the expression is LINEAR in the edge count — the naive chained
    form doubles per edge and its 4-edge final length expression
    (t0/t1 each referenced twice, then collapsed into the filter too)
    measured ~45 s/94k pairs interpreted vs ~4 s let-bound.
    """

    def let_(prev: str, var: str, body: str) -> str:
        if engine == "spark":
            return f"element_at(transform(array({prev}), {var} -> {body}), 1)"
        return f"(list_transform([{prev}], {var} -> {body}))[1]"

    def struct_(t0: str, t1: str) -> str:
        if engine == "spark":
            return f"named_struct('t0', {t0}, 't1', {t1})"
        return f"{{'t0': {t0}, 't1': {t1}}}"

    state = struct_("cast(0.0 as double)", "cast(1.0 as double)")
    for i, (ax, ay, bx, by) in enumerate(edges, 1):

        def f_of(px, py):
            return (
                f"((({bx}) - ({ax})) * (({py}) - ({ay}))"
                f" - (({by}) - ({ay})) * (({px}) - ({ax})))"
            )

        st = f"st{i}"
        f0, f1 = f_of(x1, y1), f_of(x2, y2)
        ts = f"({f0} / ({f0} - {f1}))"
        t0 = (
            f"(case when {f0} = {f1} then (case when {f0} < 0 then cast(2.0 as double) "
            f"else {st}.t0 end) when {f0} < {f1} then greatest({st}.t0, {ts}) "
            f"else {st}.t0 end)"
        )
        t1 = f"(case when {f0} > {f1} then least({st}.t1, {ts}) else {st}.t1 end)"
        state = let_(state, st, struct_(t0, t1))
    seglen = (
        f"sqrt((({x2}) - ({x1})) * (({x2}) - ({x1}))"
        f" + (({y2}) - ({y1})) * (({y2}) - ({y1})))"
    )
    q = float(10 ** int(quant))
    body = (
        f"case when stf.t1 > stf.t0 then "
        f"floor((stf.t1 - stf.t0) * {seglen} * {q!r} + 0.5) / {q!r} "
        f"else cast(0.0 as double) end"
    )
    return let_(state, "stf", body)


def zone_line_length(
    segs: DataFrame,
    clip: DataFrame,
    clip_k: int,
    sid: str = "seg_id",
    cid: str = "cid",
    c_ring: str = "cring",
    quant: int = 3,
) -> DataFrame:
    """Length of each segment INSIDE each convex zone — the line-layer
    sibling of overlay_area (road-km per district, trajectory-meters per
    geofence).  Cyrus–Beck parametric clipping: the clipped parameter
    window [t0, t1] falls out of one chained scalar expression per zone
    edge; length = (t1−t0)·‖seg‖.

    Input: ``segs`` (sid, x1, y1, x2, y2); ``clip`` (cid, c_ring) as in
    overlay_area.  Output: (sid, cid, len_in) per pair with positive
    inside-length, floor-form quantized at 10^-quant.  sqrt is IEEE-
    correctly-rounded everywhere (CLAUDE.md), everything else is ±/×
    with one guarded division per edge — bit-identical cross-engine.

    Scale: zones broadcast; segments stream through one codegen stage
    (bbox prefilter in the NLJ condition, then the t-window chain) —
    zero shuffle, zero Python, same 10¹²-row shape as overlay_area.
    """
    clip = clip.filter(F.expr(ring_area_positive_expr(c_ring, "spark")))
    cxs = F.transform(F.col(c_ring), lambda p: p["x"])
    cys = F.transform(F.col(c_ring), lambda p: p["y"])
    c_pre = clip.select(
        F.col(cid),
        F.expr(ccw_ring_expr(c_ring, "spark")).alias("_cr"),
        F.array_min(cxs).alias("_cx0"),
        F.array_max(cxs).alias("_cx1"),
        F.array_min(cys).alias("_cy0"),
        F.array_max(cys).alias("_cy1"),
    )
    s_pre = segs.select(
        F.col(sid),
        F.col("x1").cast("double").alias("_x1"),
        F.col("y1").cast("double").alias("_y1"),
        F.col("x2").cast("double").alias("_x2"),
        F.col("y2").cast("double").alias("_y2"),
    )
    j = s_pre.crossJoin(F.broadcast(c_pre)).where(
        (F.least("_x1", "_x2") <= F.col("_cx1"))
        & (F.col("_cx0") <= F.greatest("_x1", "_x2"))
        & (F.least("_y1", "_y2") <= F.col("_cy1"))
        & (F.col("_cy0") <= F.greatest("_y1", "_y2"))
    )
    len_expr = _cyrus_beck_len_expr(
        "_x1", "_y1", "_x2", "_y2", _edge_exprs("_cr", clip_k, "spark"), "spark", quant
    )
    return (
        j.withColumn("_len", F.expr(len_expr))
        .filter(F.col("_len") > 0)
        .select(sid, cid, F.col("_len").alias("len_in"))
    )


def zone_line_length_sql(
    segs_sql: str,
    clip_sql: str,
    clip_k: int,
    sid: str = "seg_id",
    cid: str = "cid",
    quant: int = 3,
) -> str:
    """DuckDB twin of zone_line_length — ``segs_sql`` yields
    (sid, x1, y1, x2, y2 as doubles), ``clip_sql`` yields (cid, cr)."""
    len_expr = _cyrus_beck_len_expr(
        "x1", "y1", "x2", "y2", _edge_exprs("cr", clip_k, "duckdb"), "duckdb", quant
    )
    return f"""
      with segs as materialized ({segs_sql}),
      clip0 as materialized ({clip_sql}),
      clipn as ({_zones_sql(cid)}),
      pairs as (select s.{sid}, c.{cid}, s.x1, s.y1, s.x2, s.y2, c.cr
                from segs s cross join clipn c),
      lens as (select {sid}, {cid}, {len_expr} as len_in from pairs)
      select {sid}, {cid}, len_in from lens where len_in > 0
    """


def _signed_fan(clip: DataFrame, clip_k: int, cid: str, c_ring: str) -> DataFrame:
    """CCW-normalize the zone ring (exact shoelace sign — a CW input
    would flip every fan sign and the signed totals would come out
    negative) and fan-explode it into its (k−2) triangles with
    orientation signs.  Returns (cid, _tkey, _sgn, _tri): _tkey is the
    composite 'cid#tix' key the convex-path call groups by, _sgn ∈
    {+1, −1} (degenerate zero-area triangles are dropped — they
    contribute nothing)."""
    clip_n = clip.select(
        F.col(cid), F.expr(ccw_ring_expr(c_ring, "spark", tag="gn")).alias("_crn")
    )
    tris = [
        F.struct(
            F.lit(i - 1).alias("tix"),
            F.array(
                F.element_at(F.col("_crn"), 1),
                F.element_at(F.col("_crn"), i),
                F.element_at(F.col("_crn"), i + 1),
            ).alias("tri"),
        )
        for i in range(2, clip_k)
    ]
    ct = clip_n.select(F.col(cid), F.explode(F.array(*tris)).alias("_t")).select(
        cid, F.col("_t.tix").alias("_tix"), F.col("_t.tri").alias("_tri")
    )
    sgn2 = shoelace2_expr("_tri", "spark", tag="g")
    return (
        ct.withColumn(
            "_sgn",
            F.expr(
                f"case when {sgn2} > 0 then 1 when {sgn2} < 0 then -1 else 0 end"
            ).cast("long"),
        )
        .filter(F.col("_sgn") != 0)
        .withColumn(
            "_tkey",
            F.concat_ws("#", F.col(cid).cast("string"), F.col("_tix").cast("string")),
        )
    )


def _signed_micro_sum(
    pairs: DataFrame, fan: DataFrame, val_col: str, sid: str, cid: str, quant: int
) -> DataFrame:
    """Close a signed fan decomposition: join per-triangle results back
    to their zone + sign, sum as integer micro-units (floor-form, NOT a
    bare cast — Spark's double→bigint cast truncates where DuckDB's
    rounds half-even), keep positive totals, re-emit at 10^-quant."""
    q = float(10 ** int(quant))
    micro = (
        F.floor(F.col(val_col) * F.lit(q) + F.lit(0.5)).cast("bigint") * F.col("_sgn")
    )
    back = fan.select("_tkey", cid, "_sgn")
    return (
        pairs.join(F.broadcast(back), "_tkey")
        .groupBy(sid, cid)
        .agg(F.sum(micro).alias("_m"))
        .filter(F.col("_m") > 0)
        .select(sid, cid, (F.col("_m").cast("double") / F.lit(q)).alias(val_col))
    )


def overlay_area_general(
    subject: DataFrame,
    clip: DataFrame,
    clip_k: int,
    sid: str = "sid",
    cid: str = "cid",
    s_ring: str = "ring",
    c_ring: str = "cring",
    quant: int = 3,
) -> DataFrame:
    """Intersection area where zones may be ARBITRARY SIMPLE polygons
    (non-convex) — the convexity contract of overlay_area lifted by
    signed fan triangulation: for a simple polygon P with vertices
    v1..vk, the indicator decomposes a.e. as 1_P = Σ σ_i·1_{T_i} over
    the fan triangles T_i = (v1, v_i, v_{i+1}) with σ_i the triangle's
    orientation sign (the shoelace decomposition).  Hence
    area(S ∩ P) = Σ σ_i · area(S ∩ T_i), and each T_i is CONVEX — a
    3-edge job for the existing clip chain.

    Zones explode into (k−2) triangle rows map-side BEFORE the
    broadcast (zones are dimension-sized; the fact side still streams
    once through one codegen stage).  Per-triangle quantized areas are
    summed SIGNED as integer micro-areas (bigint, order-free — the
    micro-unit law), so the result is partitioning-independent and
    engine-exact; output re-emitted at 10^-quant.

    Note the output magnitude matches overlay_area on convex zones up
    to per-triangle quantization (≤ (k−2)·10^-quant) — the general
    form is its own oracle-pinned contract, not a bit-twin of the
    convex path.  ``clip_k`` is the EXACT zone vertex count, as before.
    """
    ct = _signed_fan(clip, clip_k, cid, c_ring)
    pairs = overlay_area(
        subject,
        ct.select("_tkey", F.col("_tri").alias(c_ring)),
        clip_k=3,
        sid=sid,
        cid="_tkey",
        s_ring=s_ring,
        c_ring=c_ring,
        quant=quant,
    )
    return _signed_micro_sum(pairs, ct, "inter_area", sid, cid, quant)


def overlay_area_general_sql(
    subject_sql: str,
    clip_sql: str,
    clip_k: int,
    sid: str = "sid",
    cid: str = "cid",
    quant: int = 3,
) -> str:
    """DuckDB twin of overlay_area_general: the same fan explode, sign,
    3-edge clip chain (via overlay_area_sql on the triangle relation),
    and signed micro-area sum."""
    q = 10 ** int(quant)
    sgn2 = shoelace2_expr("tri", "duckdb", tag="g")
    tri_rel = f"""
      with clipg0 as materialized ({clip_sql}),
      clipg as (select {cid}, {ccw_ring_expr('cr', 'duckdb', tag='gn')} as cr
                from clipg0),
      fan as (select {cid}, i - 1 as tix, [cr[1], cr[i], cr[i + 1]] as tri
              from clipg, unnest(generate_series(2, {int(clip_k)} - 1)) as u(i)),
      sgn as (select {cid}, tix, tri,
                     case when {sgn2} > 0 then 1 when {sgn2} < 0 then -1
                          else 0 end as sgn
              from fan)
      select concat(cast({cid} as varchar), '#', cast(tix as varchar)) as cid,
             tri as cr, {cid} as zone_id, sgn
      from sgn where sgn <> 0
    """
    pair_sql = overlay_area_sql(
        subject_sql,
        f"select cid, cr from ({tri_rel})",
        clip_k=3,
        sid=sid,
        cid="cid",
        quant=quant,
    )
    return f"""
      with tk as materialized ({tri_rel}),
      pr as materialized ({pair_sql})
      select p.{sid}, t.zone_id as {cid},
             cast(sum(cast(floor(p.inter_area * {float(q)!r} + 0.5) as bigint)
                      * t.sgn) as double) / {float(q)!r} as inter_area
      from pr p join tk t on p.cid = t.cid
      group by p.{sid}, t.zone_id
      having sum(cast(floor(p.inter_area * {float(q)!r} + 0.5) as bigint) * t.sgn) > 0
    """


def zone_line_length_general(
    segs: DataFrame,
    clip: DataFrame,
    clip_k: int,
    sid: str = "seg_id",
    cid: str = "cid",
    c_ring: str = "cring",
    quant: int = 3,
) -> DataFrame:
    """Per-zone line clip length for ARBITRARY simple (non-convex) zones
    — the signed fan decomposition again: length is a measure, so
    len(S ∩ P) = Σ σ_i · len(S ∩ T_i) over the CCW fan triangles
    exactly as in overlay_area_general; each term is a convex 3-edge
    Cyrus–Beck job.  Per-triangle micro-lengths sum SIGNED as bigints.

    A segment sliding along a reflex notch boundary contributes ±
    lengths that cancel to its true inside-length; the sum can only be
    positive when some part of the segment is interior.  Output:
    (sid, cid, len_in) for pairs with positive inside-length at
    10^-quant.
    """
    ct = _signed_fan(clip, clip_k, cid, c_ring)
    pairs = zone_line_length(
        segs,
        ct.select("_tkey", F.col("_tri").alias(c_ring)),
        clip_k=3,
        sid=sid,
        cid="_tkey",
        c_ring=c_ring,
        quant=quant,
    )
    return _signed_micro_sum(pairs, ct, "len_in", sid, cid, quant)


def zone_line_length_general_sql(
    segs_sql: str,
    clip_sql: str,
    clip_k: int,
    sid: str = "seg_id",
    cid: str = "cid",
    quant: int = 3,
) -> str:
    """DuckDB twin of zone_line_length_general — the same fan/sign CTEs
    as overlay_area_general_sql over the Cyrus–Beck pair lengths."""
    q = 10 ** int(quant)
    sgn2 = shoelace2_expr("tri", "duckdb", tag="lg")
    tri_rel = f"""
      with clipg0 as materialized ({clip_sql}),
      clipg as (select {cid}, {ccw_ring_expr('cr', 'duckdb', tag='ln')} as cr
                from clipg0),
      fan as (select {cid}, i - 1 as tix, [cr[1], cr[i], cr[i + 1]] as tri
              from clipg, unnest(generate_series(2, {int(clip_k)} - 1)) as u(i)),
      sgn as (select {cid}, tix, tri,
                     case when {sgn2} > 0 then 1 when {sgn2} < 0 then -1
                          else 0 end as sgn
              from fan)
      select concat(cast({cid} as varchar), '#', cast(tix as varchar)) as cid,
             tri as cr, {cid} as zone_id, sgn
      from sgn where sgn <> 0
    """
    pair_sql = zone_line_length_sql(
        segs_sql,
        f"select cid, cr from ({tri_rel})",
        clip_k=3,
        sid=sid,
        cid="cid",
        quant=quant,
    )
    return f"""
      with tk as materialized ({tri_rel}),
      pr as materialized ({pair_sql})
      select p.{sid}, t.zone_id as {cid},
             cast(sum(cast(floor(p.len_in * {float(q)!r} + 0.5) as bigint)
                      * t.sgn) as double) / {float(q)!r} as len_in
      from pr p join tk t on p.cid = t.cid
      group by p.{sid}, t.zone_id
      having sum(cast(floor(p.len_in * {float(q)!r} + 0.5) as bigint) * t.sgn) > 0
    """


def areal_interpolate_general(
    subject: DataFrame,
    clip: DataFrame,
    clip_k: int,
    value_col: str,
    sid: str = "sid",
    cid: str = "cid",
    s_ring: str = "ring",
    c_ring: str = "cring",
) -> DataFrame:
    """Areal-weighted interpolation onto ARBITRARY simple zones — the
    general sibling of areal_interpolate, built on
    overlay_area_general's signed intersection areas: contribution =
    value · (signed micro-area sum) / area(subject), quantized to
    integer micro-units per (subject, zone) pair and summed as bigints
    per zone.  Output: (cid, n_parts, value_micro_sum), n_parts the
    number of positively-contributing subjects.
    """
    inter = overlay_area_general(
        subject, clip, clip_k, sid=sid, cid=cid, s_ring=s_ring, c_ring=c_ring
    )
    sa2 = shoelace2_expr(s_ring, "spark", tag="ai")
    sv = subject.select(
        F.col(sid),
        F.col(value_col).cast("double").alias("_val"),
        F.expr(f"abs({sa2}) / 2").alias("_sa"),
    ).filter(F.col("_sa") > 0)
    j = inter.join(sv, sid)
    micro = F.floor(
        F.col("_val") * (F.col("inter_area") / F.col("_sa")) * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    return (
        j.select(sid, cid, micro.alias("_m"))
        .groupBy(cid)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("_m").alias("value_micro_sum"),
        )
    )


def areal_interpolate_general_sql(
    subject_sql: str,
    clip_sql: str,
    clip_k: int,
    sid: str = "sid",
    cid: str = "cid",
) -> str:
    """DuckDB twin of areal_interpolate_general — ``subject_sql`` yields
    (sid, val, r); composes the general-overlay oracle verbatim."""
    inner = overlay_area_general_sql(
        f"select {sid}, r from subj0", clip_sql, clip_k, sid=sid, cid=cid
    )
    sa2 = shoelace2_expr("r", "duckdb", tag="ai")
    return f"""
      with subj0 as materialized ({subject_sql}),
      inter as materialized ({inner}),
      sv as (select {sid}, val, abs({sa2}) / 2 as sa from subj0),
      mi as (select i.{cid},
                    cast(floor(s.val * (i.inter_area / s.sa) * 1e6 + 0.5)
                         as bigint) as m
             from inter i join sv s using ({sid})
             where s.sa > 0)
      select {cid}, cast(count(*) as bigint) as n_parts,
             cast(sum(m) as bigint) as value_micro_sum
      from mi group by {cid}
    """


def overlay_area_big(
    subject: DataFrame,
    clip: DataFrame,
    clip_k: int,
    cell: int,
    sid: str = "sid",
    cid: str = "cid",
    s_ring: str = "ring",
    c_ring: str = "cring",
    quant: int = 3,
) -> DataFrame:
    """Big-big overlay — when the zone layer is ALSO fact-sized (parcel/
    building footprints at 10¹² scale) and cannot broadcast: both sides
    cover their ring bbox with ``cell``-sized grid cells (map-side
    sequence explode), ONE shuffle equi-join on the (gx, gy) cell key
    (AQE splits dense-city skew cells), then the identical clip chain.

    Exactly-once with NO distinct-shuffle: a pair sharing k>1 cells
    keeps only the cell containing the (min-x, min-y) corner of the
    bbox INTERSECTION — that corner lies in both bboxes, hence in both
    covers (the crossing_segments_join NW-cell rule generalized to
    area pairs).  Output and semantics are EXACTLY overlay_area's; the
    blocking is a plan choice, so the broadcast variant (or a plain
    cross-join oracle) is its correctness twin.

    The grid key is a plain (gx, gy) int pair — deliberately NOT the
    engine's packed tile id, whose 12-bit row/col caps zoom at 12;
    pick ``cell`` ≈ the median zone bbox so fan-out stays O(1) per row.
    """
    def pre(df, idc, ring, px):
        xs = F.transform(F.col(ring), lambda p: p["x"])
        ys = F.transform(F.col(ring), lambda p: p["y"])
        out = df.select(
            F.col(idc),
            F.col(ring).alias(f"_{px}r"),
            F.array_min(xs).alias(f"_{px}x0"),
            F.array_max(xs).alias(f"_{px}x1"),
            F.array_min(ys).alias(f"_{px}y0"),
            F.array_max(ys).alias(f"_{px}y1"),
        )
        c = F.lit(float(cell))
        return out.withColumn(
            "_gx", F.explode(F.sequence(
                F.floor(F.col(f"_{px}x0") / c).cast("long"),
                F.floor(F.col(f"_{px}x1") / c).cast("long"),
            ))
        ).withColumn(
            "_gy", F.explode(F.sequence(
                F.floor(F.col(f"_{px}y0") / c).cast("long"),
                F.floor(F.col(f"_{px}y1") / c).cast("long"),
            ))
        )

    s_pre = pre(subject, sid, s_ring, "s")
    c_pre = pre(
        clip.filter(F.expr(ring_area_positive_expr(c_ring, "spark"))).select(
            F.col(cid), F.expr(ccw_ring_expr(c_ring, "spark", tag="bb")).alias(c_ring)
        ),
        cid,
        c_ring,
        "c",
    )
    j = s_pre.join(c_pre, ["_gx", "_gy"]).where(
        (F.col("_sx0") <= F.col("_cx1"))
        & (F.col("_cx0") <= F.col("_sx1"))
        & (F.col("_sy0") <= F.col("_cy1"))
        & (F.col("_cy0") <= F.col("_sy1"))
    )
    c = F.lit(float(cell))
    nw_gx = F.floor(F.greatest("_sx0", "_cx0") / c).cast("long")
    nw_gy = F.floor(F.greatest("_sy0", "_cy0") / c).cast("long")
    j = j.filter((F.col("_gx") == nw_gx) & (F.col("_gy") == nw_gy))
    cur = "_sr"
    for i, (ax, ay, bx, by) in enumerate(_edge_exprs("_cr", clip_k, "spark"), 1):
        cur = halfplane_pass_expr(cur, ax, ay, bx, by, "spark", tag=f"o{i}")
    j = j.withColumn("_rc", F.expr(cur))
    area = F.expr(f"abs({shoelace2_expr('_rc', 'spark')}) / 2")
    q = 10 ** int(quant)
    qarea = F.floor(area * F.lit(float(q)) + F.lit(0.5)) / F.lit(float(q))
    return (
        j.filter(F.size(F.col("_rc")) >= 3)
        .select(sid, cid, qarea.alias("inter_area"))
        .filter(F.col("inter_area") > 0)
    )
