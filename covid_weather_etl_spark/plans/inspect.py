"""Physical-plan inspection helpers — the engine's perf feedback loop.

The reference has no optimizer to inspect (SURVEY.md §4); here Catalyst
does the planning and these helpers make its decisions assertable:
tests/test_plans.py pins that dimension joins broadcast, filters reach
the parquet scan (PushedFilters), projections prune the read schema,
and per-series windows never degenerate into a single global partition
— the properties that decide whether a plan survives a 100 TB scale-up.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Formatted physical plan (post-AQE initial plan) as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted")


def _node_ids(df: DataFrame, node_pattern: str) -> set[str]:
    """Unique node ids matching the pattern in the formatted plan.

    The formatted explain prints every node TWICE (once in the tree,
    once as a `(id) NodeName` detail header) — counting raw regex hits
    doubles every number, so counters parse the detail headers and
    dedupe on id. (Round-1 PLANS.md used raw hits; those figures were
    exactly 2× the physical node counts.)"""
    return set(re.findall(rf"\((\d+)\) {node_pattern}\b", physical_plan(df)))


def count_shuffles(df: DataFrame) -> int:
    """Shuffle-Exchange nodes in the plan = shuffle boundaries. Every
    one is a full network rewrite of the stream — the first thing to
    audit. BroadcastExchange and ReusedExchange are excluded (the
    former moves a small side, the latter re-reads an existing
    materialization)."""
    return len(_node_ids(df, r"Exchange(?! \S)"))


def broadcast_join_count(df: DataFrame) -> int:
    return len(_node_ids(df, r"(?:BroadcastHashJoin|BroadcastNestedLoopJoin)"))


def has_pushed_filters(df: DataFrame) -> bool:
    """True if at least one scan carries a non-empty PushedFilters list."""
    plan = physical_plan(df)
    return any(m.group(1).strip() not in ("", "[]")
               for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan))


def scan_read_columns(df: DataFrame) -> list[list[str]]:
    """Per-scan column lists from ReadSchema — audit column pruning."""
    plan = physical_plan(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c]
        out.append(cols)
    return out


def global_window_count(df: DataFrame) -> int:
    """Window specs with no partition columns — all rows funnel through
    ONE task; fatal at scale. A `windowspecdefinition(part..., order...,
    frame)` whose FIRST argument is already an ordering expression
    (`... ASC/DESC NULLS ...`) or the frame itself has an empty
    partition list."""
    plan = physical_plan(df)
    n = 0
    for m in re.finditer(r"windowspecdefinition\(([^,)]*)", plan):
        first_arg = m.group(1).strip()
        if (" ASC" in first_arg or " DESC" in first_arg
                or first_arg.startswith("specifiedwindowframe")):
            n += 1
    return n


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct WholeStageCodegen spans in the EXECUTED plan — under
    AQE codegen stages only exist once the adaptive plan is finalized,
    so this triggers execution (`collect`) first. Fused JVM loops; an
    un-fused plan (count 0) means interpreted row processing."""
    df.collect()
    plan = physical_plan(df)
    return len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
