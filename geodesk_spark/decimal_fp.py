"""Fixed-point decimal — mantissa+scale packed in one int64.

Re-expresses the reference's ``common/math/Decimal.java:21-216`` and the
wide-number tag encoding of ``feature/store/TagValues.java:52-75``: a
decimal is ``(mantissa << 4) | scale`` with scale 0-15; parsing has a
strict mode (canonical input only: no leading zeroes, no '+', no bare
'.', no trailing junk, no "-0") and a lenient mode that stops at the
first non-numeric char.  ``to_string`` prints the mantissa with EXACTLY
``scale`` decimals — trailing zeroes preserved ("0.500" stays "0.500"),
which plain float formatting cannot do.

The GOQL compiler absorbed the strict-parse/canonicality rules for tag
MATCHING (goql/compiler.py); this module is the tag OUTPUT surface —
used when writing tag values back out (GeoJSON properties, exports).
``decimal_string_col`` is the Column twin: the same exact-integer
formatting JVM-side for bulk output paths.
"""

from __future__ import annotations

INVALID = -(1 << 63)  # Long.MIN_VALUE

_OVERFLOW_MASK = 0xF800_0000_0000_0000


def parse(s: str, strict: bool = False) -> int:
    """Decimal.parse (Decimal.java:26-108), bit-faithful including the
    overflow guard (top-5-bit mask per digit step)."""
    value = 0
    scale = 0
    seen_zero = seen_nonzero = leading_zeroes = False
    trailing_non_numeric = seen_dot = negative = False

    n = len(s)
    if n == 0:
        return INVALID
    i = 0
    first = s[0]
    if first == "-":
        negative = True
        i += 1
        if i == n:
            return INVALID
    elif first == "+":
        if strict:
            return INVALID
        i += 1
        if i == n:
            return INVALID

    while i < n:
        ch = s[i]
        i += 1
        if ch == "0":
            leading_zeroes |= seen_zero and not seen_nonzero
            seen_zero = True
            value *= 10
            if value & _OVERFLOW_MASK:
                return INVALID
            continue
        if ch == ".":
            seen_dot = True
            while i < n:
                ch = s[i]
                i += 1
                if ch < "0" or ch > "9":
                    trailing_non_numeric = True
                    break
                value = value * 10 + (ord(ch) - 48)
                if value & _OVERFLOW_MASK:
                    return INVALID
                scale += 1
            break
        if ch < "0" or ch > "9":
            trailing_non_numeric = True
            break
        leading_zeroes |= seen_zero and not seen_nonzero
        seen_nonzero = True
        value = value * 10 + (ord(ch) - 48)
        if value & _OVERFLOW_MASK:
            return INVALID

    if strict:
        if trailing_non_numeric:
            return INVALID
        if seen_dot and (scale == 0 or (not seen_zero and not seen_nonzero)):
            return INVALID
        if leading_zeroes:
            return INVALID
        if value == 0 and negative:
            return INVALID

    if scale > 15:
        return INVALID
    return ((-value if negative else value) << 4) | scale


def of(mantissa: int, scale: int) -> int:
    assert 0 <= scale <= 15
    return (mantissa << 4) | scale


def to_long(d: int) -> int:
    if d == INVALID:
        return d
    s = d & 15
    m = d >> 4
    if s == 0:
        return m
    # Java integer division truncates toward zero (// floors)
    q = abs(m) // (10 ** s)
    return -q if m < 0 else q


def to_double(d: int) -> float:
    if d == INVALID:
        return float("nan")
    s = d & 15
    m = d >> 4
    return float(m) if s == 0 else m / (10 ** s)


def to_string(d: int) -> str:
    """Exactly ``scale`` decimals, trailing zeroes preserved
    (Decimal.java:170-213)."""
    if d == INVALID:
        return "invalid"
    s = d & 15
    m = d >> 4
    if s == 0:
        return str(m)
    sign = "-" if m < 0 else ""
    digits = str(abs(m))
    if len(digits) <= s:
        digits = "0" * (s - len(digits) + 1) + digits
    return f"{sign}{digits[:-s]}.{digits[-s:]}"


def normalized(d: int) -> int:
    """Drop trailing zero decimals (Decimal.java:215-228)."""
    if d == INVALID:
        return INVALID
    s = d & 15
    v = d >> 4
    while s > 0:
        x, r = divmod(abs(v), 10)
        if r != 0:
            break
        s -= 1
        v = -x if v < 0 else x
    return (v << 4) | s


# --- wide-number tag values (TagValues.java:30-75) --------------------------

MIN_NUMBER = -256  # TagValues.java:30


def wide_number_to_double(number: int) -> float:
    """TagValues.wideNumberToDouble: 30-bit mantissa + 2-bit scale."""
    m = (number & 0xFFFFFFFF) >> 2
    mantissa = m + MIN_NUMBER
    s = number & 3
    return mantissa / (10 ** s) if s else float(mantissa)


def wide_number_to_string(number: int) -> str:
    """TagValues.wideNumberToString: exactly ``scale`` decimals."""
    m = (number & 0xFFFFFFFF) >> 2
    mantissa = m + MIN_NUMBER
    s = number & 3
    if s == 0:
        return str(mantissa)
    return to_string(of(mantissa, s))


def wide_number_from(mantissa: int, scale: int) -> int:
    """Inverse encoder (MatcherCoder.java:65-66 range rules): mantissa
    must fit 30 bits after the MIN_NUMBER bias, scale 0-3."""
    assert 0 <= scale <= 3
    biased = mantissa - MIN_NUMBER
    assert 0 <= biased < (1 << 30), "mantissa out of wide-number range"
    return (biased << 2) | scale


# --- Column twin ------------------------------------------------------------

def decimal_string_col(mantissa_col, scale_col):
    """JVM-side exact to_string: integer/lpad/concat only (no float
    formatting, no UDF) — bulk tag-output formatting inside codegen."""
    from pyspark.sql import functions as F

    m = mantissa_col.cast("long")
    s = scale_col.cast("int")
    sign = F.when(m < 0, F.lit("-")).otherwise(F.lit(""))
    digits = F.abs(m).cast("string")
    padded = F.lpad(digits, F.greatest(F.length(digits), s + F.lit(1)), "0")
    int_part = F.substring(padded, F.lit(1), F.length(padded) - s)
    frac_part = F.substring(padded, F.length(padded) - s + 1, s)
    return F.when(s == 0, m.cast("string")).otherwise(
        F.concat(sign, int_part, F.lit("."), frac_part)
    )
