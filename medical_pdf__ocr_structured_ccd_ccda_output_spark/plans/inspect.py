"""Physical-plan inspection helpers — used by tests to pin the plan
shapes that matter at 100 TB (pushdown, broadcast, shuffle and window
operator counts)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shuffle_exchange_count(df: DataFrame) -> int:
    """Number of shuffle (non-broadcast) exchanges in the physical plan."""
    plan = formatted_plan(df)
    return sum(
        1 for line in plan.splitlines()
        if line.lstrip("+-: ").startswith("Exchange")
    )


def window_operator_count(df: DataFrame) -> int:
    """Number of Window operators in the physical plan."""
    plan = formatted_plan(df)
    return sum(
        1 for line in plan.splitlines()
        if line.lstrip("+-: ").startswith("Window (")
    )


def broadcast_join_count(df: DataFrame) -> int:
    plan = formatted_plan(df)
    return sum(
        1 for line in plan.splitlines()
        if "BroadcastHashJoin" in line or "BroadcastNestedLoopJoin" in line
    )


def has_pushed_filters(df: DataFrame) -> bool:
    return "PushedFilters: [" in formatted_plan(df) and \
        "PushedFilters: []" not in formatted_plan(df)


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column pruning check)."""
    import re

    plan = formatted_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols.extend(p.split(":")[0] for p in m.group(1).split(",") if p)
    return cols


def arrow_udf_calls(df: DataFrame) -> list[list[str]]:
    """The Python UDF calls of each ArrowEvalPython node of the executed
    plan, one list per node.  A call prints as ``name(args)#resultId``,
    so the same call in two nodes is one UDF evaluated twice per row."""
    nodes, calls = [df._jdf.queryExecution().executedPlan()], []
    while nodes:
        node = nodes.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            nodes.append(node.executedPlan())
            continue
        if node.nodeName() == "ArrowEvalPython":
            udfs = node.udfs()
            calls.append([udfs.apply(i).toString() for i in range(udfs.size())])
        kids = node.children()
        nodes.extend(kids.apply(i) for i in range(kids.size()))
    return calls
