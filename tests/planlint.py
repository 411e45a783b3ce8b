"""Plan lint shared by the plan-shape tests: facts about a DataFrame's
physical plan, read from Spark's formatted explain (the initial plan
when AQE is on; the operators that run Python do not change with it)."""

import re


def formatted_plan(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def plan_nodes(df) -> list[str]:
    """Operator names of the formatted plan, one per numbered node
    (``Scan parquet``, ``Scan ExistingRDD``, ``BroadcastHashJoin`` …)."""
    return re.findall(r"^\(\d+\) ([A-Za-z][A-Za-z ]*?) *(?:\[.*)?$", formatted_plan(df), re.M)


def python_nodes(df) -> list[str]:
    """The plan's operators that run a Python worker (BatchEvalPython,
    ArrowEvalPython, MapInPandas, MapInArrow, FlatMapGroupsInPandas …),
    in plan order."""
    return [
        n for n in plan_nodes(df) if "Python" in n or "InPandas" in n or "InArrow" in n
    ]


def nested_loop_joins(df) -> list[str]:
    """The plan's nested-loop joins (BroadcastNestedLoopJoin,
    CartesianProduct): joins that pair every row of one side with every
    row of the other, so their cost grows as the product of the sides."""
    return [n for n in plan_nodes(df) if n in ("BroadcastNestedLoopJoin", "CartesianProduct")]
