"""Deterministic ln / atanh / atan2 — the inverse half of the
cross-engine exact math suite.

geo/mercator.py established the law (born from the box_area_m2 driver
reds): libm transcendentals differ between engine BUILDS, so any
oracle-compared value that passes through one must instead run an
exactly-specified IEEE-754 op sequence (+, ×, ÷, sqrt, floor,
comparisons — all correctly rounded everywhere) identically on numpy,
Spark, and DuckDB.  det_exp/det_cosh cover the forward (projection)
direction; this module covers the inverse direction needed by cell →
geometry transforms (S2 cell centers, cell boundary export):

  * det_ln(x), x ∈ [2^-64, 2^128): exponent extraction by a FIXED
    ladder of 7 compare-and-scale steps (multiplies by exact powers of
    two), mantissa m ∈ [1/√2, √2), then ln m = 2·atanh((m-1)/(m+1))
    as a 12-term odd Horner (|u| ≤ 0.1716 → remainder < 3e-19), plus
    k·ln2 with the fdlibm hi/lo split.  ~1-2 ulp vs libm.
  * det_atanh(z) = 0.5 · det_ln((1+z)/(1-z)) — the mercator parameter
    from sin(lat) (t = atanh(sin lat) inverts tanh(t) = sin lat).
  * det_atan(w) / det_atan2(y, x): octant reduction by exact
    comparisons/divisions to |v| ≤ tan(π/8), 22-term odd Taylor
    Horner (0.1716^22-ish tail < 1e-17), then exact-constant π
    adjustments.  Division-by-zero arms are guarded with a dummy
    divisor because Spark's double÷0 yields NULL (ANSI off) while
    numpy/DuckDB yield ±inf — the guarded arm is never selected.

Each kernel ships the numpy form, the Spark Column form, and the
DuckDB SQL form running literally the same op sequence (the parity
tests assert bit-identity on boundary-heavy grids).
"""

from __future__ import annotations

import math

import numpy as np

_LN2_HI = 6.93147180369123816490e-01
_LN2_LO = 1.90821492927058770002e-10
_SQRT2 = math.sqrt(2.0)  # one double literal, identical everywhere
_TAN_PI_8 = 0.41421356237309503  # tan(pi/8) literal
_PI = math.pi
_PI_2 = math.pi / 2.0
_PI_4 = math.pi / 4.0

# ln mantissa series: ln m = 2u(1 + u²/3 + u⁴/5 + …), u=(m-1)/(m+1)
_LN_C = [1.0 / (2 * i + 1) for i in range(11, -1, -1)]
# atan series on |v| ≤ tan(π/8): v(1 - v²/3 + v⁴/5 - …)
_ATAN_C = [(-1.0) ** i / (2 * i + 1) for i in range(21, -1, -1)]
# exponent-extraction ladder: after m·2^64, k-steps 64..1 bring m to [1,2)
_LADDER = [64, 32, 16, 8, 4, 2, 1]
_TWO64 = 2.0**64


def _horner(s, coeffs):
    p = np.full_like(s, coeffs[0])
    for c in coeffs[1:]:
        p = p * s + c
    return p


def det_ln(x) -> np.ndarray:
    """ln(x) for x ∈ [2^-64, 2^128), bit-identical across engines."""
    x = np.asarray(x, dtype=np.float64)
    m = x * _TWO64  # exact power-of-two scale; m ∈ [1, 2^192)
    k = np.zeros_like(m)
    for s in _LADDER:
        hi = m >= float(2**s)
        m = np.where(hi, m * float(2.0**-s), m)  # exact
        k = np.where(hi, k + s, k)
    # m ∈ [1, 2); fold to [1/√2, √2)
    hi = m >= _SQRT2
    m = np.where(hi, m * 0.5, m)
    k = np.where(hi, k + 1.0, k) - 64.0
    u = (m - 1.0) / (m + 1.0)
    lnm = 2.0 * u * _horner(u * u, _LN_C)
    return (lnm + k * _LN2_LO) + k * _LN2_HI


def det_atanh(z) -> np.ndarray:
    """atanh(z), |z| < 1 (exactly 1 − 2^-64 headroom via det_ln domain)."""
    z = np.asarray(z, dtype=np.float64)
    return 0.5 * det_ln((1.0 + z) / (1.0 - z))


def det_atan2(y, x) -> np.ndarray:
    """atan2(y, x), 4-quadrant, bit-identical across engines.

    Branch order is the parity contract: |y| ≤ |x|·tan(π/8) → small
    series; |x| ≤ |y|·tan(π/8) → π/2 − series; else π/4 + series on the
    rotated argument; then quadrant adjust by exact-constant π.

    Signed zeros are normalized away at entry (+0.0 addition — IEEE
    guarantees -0.0 + 0.0 = +0.0 under round-to-nearest): DuckDB's
    abs(-0.0) returns -0.0 while numpy's returns +0.0, so the raw sign
    bit of a zero is NOT cross-engine-stable.  Deviation from IEEE
    atan2 only on zero signs: atan2(±0, x<0) = +π, atan2(-0, x>0) = +0."""
    y = np.asarray(y, dtype=np.float64) + 0.0
    x = np.asarray(x, dtype=np.float64) + 0.0
    ay, ax = np.abs(y), np.abs(x)
    small = ay <= ax * _TAN_PI_8
    big = ax <= ay * _TAN_PI_8
    # pick each element's operands, then divide once: no discarded arm
    # divides (and overflows); a zero denominator only meets a zero
    # numerator (x = y = 0), guarded to 0 / 1
    num = np.where(small, ay, np.where(big, ax, ay - ax))
    den = np.where(small, ax, np.where(big, ay, ay + ax))
    v = num / np.where(den == 0.0, 1.0, den)
    p = v * _horner(v * v, _ATAN_C)
    base = np.where(small, p, np.where(big, _PI_2 - p, _PI_4 + p))
    # quadrant: x<0 reflects through π; sign of y applies last
    mag = np.where(x < 0, _PI - base, base)
    mag = np.where((x < 0) & (ay == 0.0), _PI, mag)  # atan2(±0, -x) = π
    return np.where(y < 0, -mag, mag)


def det_atan(w) -> np.ndarray:
    """atan(w) via det_atan2(w, 1)."""
    w = np.asarray(w, dtype=np.float64)
    return det_atan2(w, np.ones_like(w))


# --- Spark Column forms ------------------------------------------------------


def _horner_col(s_col, coeffs):
    from pyspark.sql import functions as F

    p = F.lit(coeffs[0])
    for c in coeffs[1:]:
        p = p * s_col + F.lit(c)
    return p


def det_ln_cols(df, x_col, out: str, tag: str = "_ln"):
    """Add `out` = det_ln(x_col) — the ladder's conditional rescales
    bind one narrow projection per step (an inlined Column expression
    would triple per step: 3^9 × a 12-term Horner ≈ 300k nodes; bound
    columns keep every projection small, like curve.hilbert_cell_cols).
    `tag` prefixes the scratch columns (unique per call on one df)."""
    from pyspark.sql import functions as F

    m, k = tag + "m", tag + "k"
    df = df.withColumn(m, x_col.cast("double") * F.lit(_TWO64)).withColumn(
        k, F.lit(0.0)
    )
    for s in _LADDER:
        hi = F.col(m) >= F.lit(float(2**s))
        df = df.withColumn(
            tag + "m2", F.when(hi, F.col(m) * F.lit(float(2.0**-s))).otherwise(F.col(m))
        ).withColumn(tag + "k2", F.when(hi, F.col(k) + F.lit(float(s))).otherwise(F.col(k)))
        df = df.withColumn(m, F.col(tag + "m2")).withColumn(k, F.col(tag + "k2"))
    hi = F.col(m) >= F.lit(_SQRT2)
    df = df.withColumn(
        tag + "m2", F.when(hi, F.col(m) * F.lit(0.5)).otherwise(F.col(m))
    ).withColumn(
        tag + "k2",
        (F.when(hi, F.col(k) + F.lit(1.0)).otherwise(F.col(k))) - F.lit(64.0),
    )
    df = df.withColumn(m, F.col(tag + "m2")).withColumn(k, F.col(tag + "k2"))
    df = df.withColumn(
        tag + "u", (F.col(m) - F.lit(1.0)) / (F.col(m) + F.lit(1.0))
    ).withColumn(tag + "s", F.col(tag + "u") * F.col(tag + "u"))
    lnm = F.lit(2.0) * F.col(tag + "u") * _horner_col(F.col(tag + "s"), _LN_C)
    df = df.withColumn(
        out, (lnm + F.col(k) * F.lit(_LN2_LO)) + F.col(k) * F.lit(_LN2_HI)
    )
    return df.drop(m, k, tag + "m2", tag + "k2", tag + "u", tag + "s")


def det_atanh_cols(df, z_col, out: str, tag: str = "_ath"):
    """Add `out` = det_atanh(z_col) (bound-column det_ln underneath)."""
    from pyspark.sql import functions as F

    z = z_col.cast("double")
    df = det_ln_cols(df, (F.lit(1.0) + z) / (F.lit(1.0) - z), out, tag=tag)
    return df.withColumn(out, F.lit(0.5) * F.col(out))


def det_atan2_cols(df, y_col, x_col, out: str, tag: str = "_at2"):
    """Add `out` = det_atan2(y_col, x_col) — same branch order as the
    numpy/SQL forms; ÷0 arms guarded (Spark double÷0 → NULL, ANSI off)."""
    from pyspark.sql import functions as F

    df = df.withColumn(tag + "y", y_col.cast("double") + F.lit(0.0)).withColumn(
        tag + "x", x_col.cast("double") + F.lit(0.0)
    )
    ya, xa = F.col(tag + "y"), F.col(tag + "x")
    df = df.withColumn(tag + "ay", F.abs(ya)).withColumn(tag + "ax", F.abs(xa))
    ay, ax = F.col(tag + "ay"), F.col(tag + "ax")
    safe = lambda d: F.when(d == 0.0, F.lit(1.0)).otherwise(d)
    small = ay <= ax * F.lit(_TAN_PI_8)
    big = ax <= ay * F.lit(_TAN_PI_8)
    df = df.withColumn(
        tag + "v",
        F.when(small, ay / safe(ax))
        .when(big, ax / safe(ay))
        .otherwise((ay - ax) / safe(ay + ax)),
    ).withColumn(tag + "s", F.col(tag + "v") * F.col(tag + "v"))
    p = F.col(tag + "v") * _horner_col(F.col(tag + "s"), _ATAN_C)
    df = df.withColumn(
        tag + "b",
        F.when(small, p).when(big, F.lit(_PI_2) - p).otherwise(F.lit(_PI_4) + p),
    )
    mag = F.when((xa < 0) & (ay == 0.0), F.lit(_PI)).otherwise(
        F.when(xa < 0, F.lit(_PI) - F.col(tag + "b")).otherwise(F.col(tag + "b"))
    )
    df = df.withColumn(out, F.when(ya < 0, -mag).otherwise(mag))
    return df.drop(
        tag + "y", tag + "x", tag + "ay", tag + "ax", tag + "v", tag + "s", tag + "b"
    )


# --- DuckDB SQL forms --------------------------------------------------------
#
# Ladder/branch chains textually repeat their operands, so each SQL
# builder returns (ctes, expr) where `ctes` bind the intermediates step
# by step and `expr` references the final bound column.  `tag` must be
# unique per use within one query.


def _horner_sql(s: str, coeffs) -> str:
    p = repr(coeffs[0])
    for c in coeffs[1:]:
        p = f"({p} * {s} + {c!r})"
    return p


def det_ln_sql(x_sql: str, tag: str, src: str) -> tuple[str, str]:
    """(ctes, value_expr): deterministic ln of `x_sql` over relation
    `src`.  The ladder is one CTE per step (7 + 2); the final expr
    references columns of the last CTE, named ln_{tag}_fin."""
    t = tag
    ctes = [
        f"ln_{t}_0 as (select *, cast({x_sql} as double) * {_TWO64!r} as m_{t}, "
        f"cast(0.0 as double) as k_{t} from {src})"
    ]
    prev = f"ln_{t}_0"
    for idx, s in enumerate(_LADDER, 1):
        cur = f"ln_{t}_{idx}"
        ctes.append(
            f"{cur} as (select * exclude (m_{t}, k_{t}), "
            f"case when m_{t} >= {float(2 ** s)!r} then m_{t} * {float(2.0 ** -s)!r} "
            f"else m_{t} end as m_{t}, "
            f"case when m_{t} >= {float(2 ** s)!r} then k_{t} + {float(s)!r} "
            f"else k_{t} end as k_{t} from {prev})"
        )
        prev = cur
    ctes.append(
        f"ln_{t}_sq as (select * exclude (m_{t}, k_{t}), "
        f"case when m_{t} >= {_SQRT2!r} then m_{t} * 0.5 else m_{t} end as m_{t}, "
        f"(case when m_{t} >= {_SQRT2!r} then k_{t} + 1.0 else k_{t} end) - 64.0 "
        f"as k_{t} from {prev})"
    )
    ctes.append(
        f"ln_{t}_fin as (select *, (m_{t} - 1.0) / (m_{t} + 1.0) as u_{t} "
        f"from ln_{t}_sq)"
    )
    expr = (
        f"((2.0 * u_{t} * {_horner_sql(f'(u_{t} * u_{t})', _LN_C)} "
        f"+ k_{t} * {_LN2_LO!r}) + k_{t} * {_LN2_HI!r})"
    )
    return ", ".join(ctes), expr


def det_atanh_sql(z_sql: str, tag: str, src: str) -> tuple[str, str]:
    ctes, expr = det_ln_sql(f"((1.0 + ({z_sql})) / (1.0 - ({z_sql})))", tag, src)
    return ctes, f"(0.5 * {expr})"


def det_atan2_sql(y_sql: str, x_sql: str, tag: str, src: str) -> tuple[str, str]:
    """(ctes, value_expr): deterministic atan2(y, x) over `src`; final
    CTE is at2_{tag}_fin."""
    t = tag
    ctes = [
        f"at2_{t}_0 as (select *, cast({y_sql} as double) + 0.0 as ya_{t}, "
        f"cast({x_sql} as double) + 0.0 as xa_{t} from {src})",
        f"at2_{t}_1 as (select *, abs(ya_{t}) as ay_{t}, abs(xa_{t}) as ax_{t} "
        f"from at2_{t}_0)",
        # v: guarded divisors (DuckDB ÷0 → inf, Spark → NULL; arm unused)
        f"at2_{t}_fin as (select *, "
        f"case when ay_{t} <= ax_{t} * {_TAN_PI_8!r} then "
        f"ay_{t} / (case when ax_{t} = 0.0 then 1.0 else ax_{t} end) "
        f"when ax_{t} <= ay_{t} * {_TAN_PI_8!r} then "
        f"ax_{t} / (case when ay_{t} = 0.0 then 1.0 else ay_{t} end) "
        f"else (ay_{t} - ax_{t}) / (case when ay_{t} + ax_{t} = 0.0 then 1.0 "
        f"else ay_{t} + ax_{t} end) end as v_{t} from at2_{t}_1)",
    ]
    p = f"(v_{t} * {_horner_sql(f'(v_{t} * v_{t})', _ATAN_C)})"
    base = (
        f"(case when ay_{t} <= ax_{t} * {_TAN_PI_8!r} then {p} "
        f"when ax_{t} <= ay_{t} * {_TAN_PI_8!r} then {_PI_2!r} - {p} "
        f"else {_PI_4!r} + {p} end)"
    )
    mag = (
        f"(case when xa_{t} < 0 and ay_{t} = 0.0 then {_PI!r} "
        f"when xa_{t} < 0 then {_PI!r} - {base} else {base} end)"
    )
    return ", ".join(ctes), f"(case when ya_{t} < 0 then -{mag} else {mag} end)"
