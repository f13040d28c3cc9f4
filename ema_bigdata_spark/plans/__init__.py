"""Physical-plan inspection: the engine's scale posture, made checkable.

The 100 TB claims this repo makes — pushdown reaches the scan, dim
joins broadcast, top-k is TakeOrdered, hot paths stay in whole-stage
codegen, the as-of join plans zero Join nodes — are properties of the
*executed plan*, not the code.  These helpers extract the plan string
so tests (``tests/test_plans.py``) and users can assert on it; a lost
pushdown or a broadcast degrading to shuffle changes nothing at
sf0.001 but everything at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame, execute: bool = False) -> str:
    """The physical plan string for a DataFrame.

    With ``execute=True`` the DataFrame is collected first and the
    SAME QueryExecution's final plan is returned — required to see
    AQE's runtime re-plan and the whole-stage-codegen ``*(n)`` markers
    (a separate no-op action would plan its own execution).
    """
    if execute:
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def query_plan(
    spark, sf_dir: str, name: str, execute: bool = False
) -> str:
    """Executed plan for a registered query by name."""
    from ema_bigdata_spark import registry

    registry.load_all()
    return executed_plan(registry.QUERIES[name](spark, sf_dir), execute)


def scan_count(plan: str) -> int:
    """Number of file scans — extra scans mean the plan re-reads data
    it should have reused (e.g. a pivot-value discovery pass)."""
    return plan.lower().count("filescan")


def exchange_count(plan: str) -> int:
    """Number of Exchange (shuffle/broadcast-distribute) nodes — THE
    scale currency: each one materializes the stream at 100 TB.

    Counts only real ``Exchange``/``BroadcastExchange`` nodes, not
    ``ReusedExchange`` (ADVICE r2): a reuse node re-reads an existing
    materialization rather than shuffling again, so counting it would
    make exact-count assertions brittle against plan-reuse changes.
    (``\\b`` keeps the bare-Exchange pattern from also matching inside
    the Broadcast/Reused node names.)"""
    import re

    return len(re.findall(r"\b(?:Broadcast)?Exchange\b", plan))
