"""Physical-plan introspection helpers.

The 100 TB discipline is enforced here, not hoped for: tests/test_plans.py
uses these to assert that filters reach the Parquet scan (PushedFilters),
projections prune the read schema (ReadSchema), dim joins broadcast, and
hot paths stay inside WholeStageCodegen. A query whose plan regresses
fails CI even while its results stay correct.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what df.explain(mode) prints)."""
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), mode
        )
    except Exception:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode=mode)
        return buf.getvalue()


def scan_read_schema(plan: str, table_hint: str) -> str:
    """ReadSchema line of the scan whose location mentions `table_hint`."""
    chunks = plan.split("Scan parquet")
    for chunk in chunks[1:]:
        if table_hint in chunk.split("ReadSchema")[0]:
            for line in chunk.splitlines():
                if "ReadSchema:" in line:
                    return line.split("ReadSchema:", 1)[1].strip()
    return ""


def pushed_filters(plan: str, table_hint: str) -> str:
    chunks = plan.split("Scan parquet")
    for chunk in chunks[1:]:
        if table_hint in chunk.split("ReadSchema")[0]:
            for line in chunk.splitlines():
                if "PushedFilters:" in line:
                    return line.split("PushedFilters:", 1)[1].strip()
    return ""


def has_broadcast_join(plan: str) -> bool:
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def codegen_stage_count(plan: str) -> int:
    return plan.count("WholeStageCodegen")


def executed_metrics_by_node(df: DataFrame) -> list[tuple[str, dict[str, int]]]:
    """One (nodeName, {metric: value}) entry PER PLAN NODE from the
    EXECUTED physical plan, in walk order — run collect() on `df`
    first or every value reads 0 (a noop write or df.count() leaves
    them at 0). Descends through the
    AdaptiveSparkPlan wrapper and materialized query stages, so
    post-AQE shuffle metrics (shuffleRecordsWritten, recordsRead,
    numOutputRows) are visible. Node boundaries are structural: every
    node gets its own dict (a flat stream re-grouped by consecutive
    name folds two adjacent same-named nodes, e.g. two 'Scan parquet'
    over different paths, into one mixed dict — round-12 advice);
    empty-metric nodes are skipped."""
    nodes: list[tuple[str, dict[str, int]]] = []

    def walk(node) -> None:
        name = node.nodeName()
        m: dict[str, int] = {}
        try:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                m[kv._1()] = int(kv._2().value())
        except Exception:
            pass
        if m:
            nodes.append((name, m))
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())
        if "QueryStage" in name:  # shuffle/broadcast stage bodies
            try:
                walk(node.plan())
            except Exception:
                pass

    walk(df._jdf.queryExecution().executedPlan())
    return nodes


def executed_metrics(df: DataFrame) -> list[tuple[str, str, int]]:
    """(nodeName, metricName, value) triples — the flat projection of
    executed_metrics_by_node (ONE plan walker; this is how the skew
    tests PROVE a partial aggregate pre-reduced a hot key rather than
    inferring it from plan text)."""
    return [
        (name, metric, value)
        for name, m in executed_metrics_by_node(df)
        for metric, value in m.items()
    ]
