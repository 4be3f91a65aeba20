"""Physical-plan assertions — the scale feedback loop.

The reference has no optimizer (SURVEY.md §4); on Spark the optimizer
IS the engine, so these helpers make plan properties testable:
pushdown reached the scan, the dim join broadcast, a pipeline reuses
one shuffle. tests/test_plans.py pins them so a refactor that silently
de-optimizes a query fails CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan advertises a pushed filter mentioning
    `fragment` (column name)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names in the first scan's ReadSchema (projection pruning
    witness)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            return [f.split(":")[0].strip() for f in inner.split(",") if ":" in f]
    return []


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (counted from
    the details section — `(N) Exchange` — because the formatted output
    lists every operator twice: once in the tree, once in details)."""
    import re

    plan = formatted_plan(df)
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.MULTILINE))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """True if any pipeline in the plan compiles to a fused
    WholeStageCodegen stage (visible only in `codegen` explain mode
    when AQE hasn't finalized the plan yet)."""
    s = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "codegen"
    )
    return "WholeStageCodegen" in s


def global_ordered_windows(df: DataFrame) -> list[str]:
    """windowspecdefinition occurrences that are ORDERED but have NO
    partition columns — the single-task global prefix-scan
    anti-pattern (the whole input funnels through one window task).

    Detection is on the analyzed logical plan: windowspecdefinition's
    argument list is (partitionCols..., orderCols ASC|DESC..., frame);
    if the FIRST argument already carries a sort direction, the
    partition list is empty. Unordered global windows (a windowed
    grand total over an already-tiny aggregate) are not flagged."""
    import re

    plan = df._jdf.queryExecution().analyzed().toString()
    flagged = []
    for m in re.finditer(r"windowspecdefinition\(([^()]*(?:\([^()]*\))?[^()]*)", plan):
        first_arg = m.group(1).split(",")[0]
        if " ASC" in first_arg or " DESC" in first_arg:
            flagged.append(m.group(0)[:120])
    return flagged


def low_card_ordered_windows(df: DataFrame, low_card: frozenset[str]) -> list[str]:
    """windowspecdefinition occurrences that are ORDERED and whose
    partition columns are ALL drawn from a known low-cardinality key
    set (e.g. `lang`, a 5-value column) — the same single-task
    funnel as a global ordered window, just split 5 ways. A window
    co-partitioned with a high-cardinality column (e.g. pid, lang) is
    fine and not flagged.

    Same detection surface as global_ordered_windows: the analyzed
    plan's windowspecdefinition argument list is (partitionCols...,
    orderCols ASC|DESC..., frame); partition columns are the args
    before the first direction-carrying arg, named `col#id`."""
    import re

    plan = df._jdf.queryExecution().analyzed().toString()
    flagged = []
    for m in re.finditer(
        r"windowspecdefinition\(([^()]*(?:\([^()]*\))?[^()]*)", plan
    ):
        part_names = []
        ordered = False
        for arg in m.group(1).split(","):
            if " ASC" in arg or " DESC" in arg:
                ordered = True
                break
            nm = re.match(r"\s*(\w+)#\d+", arg)
            if nm:
                part_names.append(nm.group(1))
        if ordered and part_names and set(part_names) <= low_card:
            flagged.append(m.group(0)[:120])
    return flagged
