"""Local stand-in for the driver's t2 correctness gate.

Runs each __spark_entry__ query at a given sf against its DuckDB oracle
and compares row count, column names, and order-insensitive values
(sorted columns, stringified rows, md5 set-hash).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from geodesk_spark.session import get_spark  # noqa: E402
from geodesk_spark.sources.tables import TABLES  # noqa: E402


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append("|".join(_fmt(v) for v in tup))
    rows.sort()
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(df), cols, h


def _fmt(v) -> str:
    if v is None or v != v:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # codegen fallback off, as in the test session: a plan whose generated
    # code fails to compile fails its query instead of running interpreted
    spark = get_spark("correctness-check",
                      extra_conf={"spark.sql.codegen.fallback": "false"})
    con = duckdb.connect()
    # spill to /tmp, not cwd/.tmp — a super-linear oracle once left 74 GB
    # of temp blocks inside the repo checkout
    con.sql("set temp_directory='/tmp/duckdb_oracle_tmp'")
    for t in TABLES:
        con.sql(f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        unknown = sorted(set(only) - set(qs))
        if unknown:
            print(f"FAIL  unknown query name(s): {unknown}")
            sys.exit(2)
    failures = 0
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ok?   {name}: rows={len(sdf)} (rows-only, {t_spark:.1f}s)")
            if len(sdf) == 0:
                print(f"WARN  {name}: zero rows")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        ns, cs, hs = canon(sdf)
        no, co, ho = canon(odf)
        if cs != co:
            print(f"FAIL  {name}: columns {cs} vs {co}")
            failures += 1
        elif ns != no:
            print(f"FAIL  {name}: rows {ns} vs {no}")
            failures += 1
        elif hs != ho:
            print(f"FAIL  {name}: value hash mismatch ({ns} rows)")
            cols = sorted(sdf.columns)
            m = sdf[cols].sort_values(cols).reset_index(drop=True)
            o = odf[cols].sort_values(cols).reset_index(drop=True)
            print(m.head(3).to_string())
            print(o.head(3).to_string())
            failures += 1
        else:
            vac = "  WARN: vacuous (0 rows both sides)" if ns == 0 else ""
            print(f"PASS  {name}: rows={ns} ({t_spark:.1f}s){vac}")
    if ran == 0:
        print("FAIL  no queries ran")
        sys.exit(2)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
