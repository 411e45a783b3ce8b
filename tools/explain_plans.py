"""Print the formatted physical plan of each driver query named on the
command line, built against the parquet test data in SF_DIR:

    python tools/explain_plans.py SF_DIR QUERY [QUERY ...]

Things to check in a plan: parquet scans carry PushedFilters and a pruned
ReadSchema, dimension joins are BroadcastHashJoin, and hot expressions
sit inside WholeStageCodegen spans.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import __spark_entry__ as em  # noqa: E402
from geodesk_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main(sf_dir: str, names: list[str]) -> None:
    qs = em.queries()
    spark = get_spark("plans")
    try:
        for name in names:
            print(f"## {name}\n\n{plan_of(qs[name](spark, sf_dir))}\n")
    finally:
        spark.stop()


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2:])
