"""Physical-plan inspection helpers — audit what Catalyst actually does.

Used in tests and tuning sessions to check the plans we want at scale:
filters pushed to the parquet scan, column pruning, broadcast joins where a
side is small, wide WholeStageCodegen spans, bounded exchange counts.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

__all__ = ["formatted_plan", "plan_stats"]


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def plan_stats(df: DataFrame) -> dict:
    """Counts of the plan features that matter for scale.

    With AQE the formatted explain appends an '== Initial Plan ==' section —
    only the final (current) plan is counted, or every operator would be
    double-counted.
    """
    plan = formatted_plan(df).split("== Initial Plan ==")[0]
    # formatted explain lists each operator twice (tree + detail block);
    # count the "(N) Operator" detail headers only
    op = lambda name: len(re.findall(rf"^\(\d+\) {name}", plan, re.MULTILINE))
    return {
        "exchanges": op("Exchange"),
        "broadcast_joins": op("BroadcastHashJoin"),
        "sortmerge_joins": op("SortMergeJoin"),
        "python_udfs": op("ArrowEvalPython") + op("BatchEvalPython"),
        "pushed_filters": re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        "scans": op("Scan parquet"),
        "whole_stage_ops": op(r"\S+") - op("Exchange"),  # rough span proxy
    }
