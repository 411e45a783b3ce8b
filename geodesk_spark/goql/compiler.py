"""GOQL → pyspark Column compiler.

Value semantics mirror the reference's generated matchers
(MatcherCoder.java fetchTagValue + TagClause flags), re-derived for a
raw-string tag model (tags: map<string,string>):

- The GOL builder encodes a tag value as GLOBAL_STRING if it is in the
  string table, else as a NUMBER if ``Decimal.parse(v, strict=true)``
  succeeds and the mantissa fits [-256, 2^30-1-256] with scale ≤ 3,
  else LOCAL_STRING (gol compiler STagTable.java:199-213, strict parse
  Decimal.java:25-115).  Strict parsing admits only canonical decimal
  strings, so NUMBER round-trips to exactly its source text — string
  equality and wildcard/regex matching therefore reduce to raw-string
  operations in every encoding case, and the string table has no
  observable effect on matching (only on storage size).
- Numeric contexts convert ANY value through doubleValue: stored
  numbers exactly, strings via the lenient left-prefix parse
  (MathUtils.doubleFromString — "50 mph" → 50, junk → NaN); NaN fails
  every comparison but satisfies '!=' (TagMatcher.java:47-49).
- '[k]' is "present and not the global string 'no'"; '[!k]' its
  complement (MatcherParser.java:308-325).
- '!=' / '!~' match when the key is absent (TagClause optional-clause
  semantics, MatcherParser.java:271-273).
- '~' uses Java Pattern.matches() — FULL match (ExpressionCoder.java:155)
  — hence the ^(?:…)$ wrap around rlike, which is find()-style.

Everything compiles to built-in Column expressions (whole-stage
codegen); there is no UDF anywhere in GOQL evaluation.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from geodesk_spark.goql import parser as P

# Lenient numeric prefix (MathUtils.doubleFromString): optional leading
# whitespace, optional '-', digits with at most one '.', stop at first
# other char.  NB: "-.5" parses to -0.5; a bare "-" or "." is NaN.
_LENIENT_RE = r"^\s*(-?(?:[0-9][0-9]*\.?[0-9]*|\.[0-9]+))"


def _val(key: str) -> Column:
    return F.element_at(F.col("tags"), F.lit(key))


def lenient_double_col(v: Column) -> Column:
    """Public alias of the lenient left-prefix numeric parse
    (MathUtils.doubleFromString, common/math/MathUtils.java:24-60):
    "50 mph" → 50.0, non-numeric → NULL.  Corpus-verified through the
    GOQL comparison clauses."""
    return _dbl(v)


def _dbl(v: Column) -> Column:
    # regexp_extract yields '' when no numeric prefix; '' try_casts to NULL
    # (the NaN equivalent: fails every comparison, satisfies '!=').
    return F.regexp_extract(v, _LENIENT_RE, 1).try_cast("double")


def _term_col(v: Column, t: P.Term) -> Column:
    if t.op == P.EQ_NUM:
        base = F.coalesce(_dbl(v) == F.lit(t.value), F.lit(False))
    elif t.op in (P.GT, P.GE, P.LT, P.LE):
        d = _dbl(v)
        cmp = {P.GT: d > t.value, P.GE: d >= t.value, P.LT: d < t.value, P.LE: d <= t.value}[t.op]
        base = F.coalesce(cmp, F.lit(False))
    elif t.op == P.EQ_STR:
        base = v == F.lit(t.value)
    elif t.op == P.STARTS:
        base = v.startswith(t.value)
    elif t.op == P.ENDS:
        base = v.endswith(t.value)
    elif t.op == P.CONTAINS:
        base = v.contains(t.value)
    elif t.op == P.MATCH:
        base = v.rlike(f"^(?:{t.value})$")
    else:  # pragma: no cover
        raise AssertionError(t.op)
    base = F.coalesce(base, F.lit(False))
    return ~base if t.negate else base


def _clause_col(c: P.Clause) -> Column:
    v = _val(c.key)
    present = v.isNotNull() & (v != F.lit("no"))
    if c.absent:
        return ~F.coalesce(v != F.lit("no"), F.lit(False))
    if not c.terms:
        return present
    terms = [_term_col(v, t) for t in c.terms]
    combined = terms[0]
    for t in terms[1:]:
        combined = (combined | t) if c.combine == "or" else (combined & t)
    if c.key_required:
        return F.coalesce(v.isNotNull(), F.lit(False)) & combined
    # optional clause ('!=', '!~'): absent key matches
    return v.isNull() | combined


def _type_col(types: str) -> Column:
    if types == "*":
        return F.lit(True)
    preds = []
    for ch in types:
        if ch == "n":
            preds.append(F.col("ftype") == "node")
        elif ch == "w":
            preds.append((F.col("ftype") == "way") & ~F.col("is_area"))
        elif ch == "a":
            preds.append(F.col("is_area"))
        elif ch == "r":
            preds.append((F.col("ftype") == "relation") & ~F.col("is_area"))
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


def compile_goql(query: str, check_types: bool = True) -> Column:
    """Compile a GOQL query to a boolean Column over a DataFrame with
    columns (ftype string, is_area boolean, tags map<string,string>).

    check_types=False skips the type-mask predicate — the reference
    enforces types in the index scan, not the matcher
    (RTreeQueryTask.java:116-118), and its golden corpus is evaluated
    matcher-only (MatcherCompilerTest.java:174-178)."""
    selectors = P.parse(query)
    sel_cols = []
    for sel in selectors:
        pred = _type_col(sel.types) if check_types else F.lit(True)
        for c in sel.clauses:
            pred = pred & _clause_col(c)
        sel_cols.append(pred)
    out = sel_cols[0]
    for s in sel_cols[1:]:
        out = out | s
    return out
