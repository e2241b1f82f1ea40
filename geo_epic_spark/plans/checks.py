"""Physical-plan shape checks.

The reference has no optimizer (SURVEY §4) — plan quality here is Catalyst's
job, and these helpers make the *required* plan shapes executable assertions:
a spatial assignment join must be a BroadcastHashJoin (no shuffle of the big
side), parquet scans must show pushed filters and pruned schemas, and hot
expressions must sit inside WholeStageCodegen. tests/test_plans.py pins these
for the flagship queries so a regression that silently de-broadcasts a join
or breaks pushdown fails CI, not the 100 TB run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def shuffle_free(df: DataFrame) -> bool:
    """No rows cross the network except broadcast of the small side — the
    required shape for the flagship assignment join."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        s = line.strip()
        # strip tree-drawing and operator numbering prefixes
        while s and s[0] in "+-*:( )0123456789":
            s = s[1:]
        if s.startswith("Exchange") and "Broadcast" not in s:
            return False
    return True


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    out = []
    for line in formatted_plan(df).splitlines():
        if "PushedFilters:" in line:
            out.append(line.split("PushedFilters:", 1)[1].strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema entries — verifies column pruning reached the scan."""
    return [
        line.split("ReadSchema:", 1)[1].strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema:" in line
    ]


def codegen_stage_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen stages in the EXECUTED plan. Runs the
    query (use on test-sized inputs): under AQE the codegen stages only
    exist in the finalized physical plan."""
    import re

    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    # finalized plans mark codegen stages as '*(n) Operator'
    return len(set(re.findall(r"\*\((\d+)\)", s)))


def scan_metrics(df: DataFrame) -> list[dict]:
    """Execute ``df`` (collect) and return each file-scan leaf's runtime
    metrics from the EXECUTED plan — {'numFiles', 'numOutputRows',
    'filesSize', ...} per scan. 'numOutputRows' is the rows the parquet
    reader actually MATERIALIZED after partition + row-group stats pruning
    (record-level pushdown filtering is off by default, so surviving row
    groups emit whole) — the storage-layout witness tests/test_layout.py
    pins. Use on test-sized frames: the collect is real."""
    df.collect()
    ep = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    # under AQE the root is AdaptiveSparkPlanExec; its leaves are reachable
    # through the finalized plan
    if ep.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        ep = ep.executedPlan()
    out = []
    leaves = ep.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if "FileSourceScan" not in leaf.getClass().getSimpleName():
            continue
        m = {}
        it = leaf.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m[kv._1()] = kv._2().value()
        out.append(m)
    return out
