"""Physical-plan inspection helpers — the engine's answer to the
reference's EXPLAIN-driven regression suites (SURVEY.md §4: the vectorized
plan shapes asserted in `force_vector_engine.sql` etc. become assertions
on Catalyst's physical plan here).

Used by tests/test_plan_quality.py to pin the plans we want at 100 TB:
filters pushed into the parquet scan, small dims broadcast, top-k as
TakeOrderedAndProject (bounded heap, no global sort), no Python (Batch-
EvalPython) in hot paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def note_routing(engine, line: str) -> None:
    """Record an index-routing decision for EXPLAIN (explain.cpp's
    "Index Scan using <name>" line, the user-visible proof a query is
    index-served).  No-op unless EXPLAIN armed the collector — routed
    execution itself never pays for the bookkeeping."""
    if engine.last_index_routing is not None:
        engine.last_index_routing.append(line)


def formatted_plan(df: DataFrame) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True when `fragment` appears in the parquet scan's PushedFilters."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df) or "BroadcastNestedLoopJoin" in (
        physical_plan(df)
    )


def uses_take_ordered(df: DataFrame) -> bool:
    """ORDER BY + LIMIT collapsed to the bounded-heap TakeOrderedAndProject
    (the distributed analogue of tuplesort.cpp's top-N heap)."""
    return "TakeOrderedAndProject" in physical_plan(df)


def python_eval_nodes(df: DataFrame) -> int:
    """Count of row-at-a-time Python eval operators — 0 in every hot path;
    Arrow-batched pandas UDFs show as ArrowEvalPython and are tolerated
    only for storage casts (halfvec)."""
    return physical_plan(df).count("BatchEvalPython")


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan — the scale currency."""
    plan = physical_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )
