"""Physical-plan inspection.

The reference's strategy choice is manual and trusted blindly; Spark's
Catalyst may override a hint (e.g. auto-broadcast a small side), so we
*assert the physical operator* rather than assume it (SURVEY.md §7.3).
These helpers are used by tests and by the bench harness to prove each
benchmark run actually executed the strategy it claims to measure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

JOIN_EXEC = {
    "repartition": "ShuffledHashJoin",
    "broadcast": "BroadcastHashJoin",
    "merge": "SortMergeJoin",
}


def physical_plan(df: DataFrame) -> str:
    """Return the formatted physical plan string without executing."""
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_physical_contains(df: DataFrame, fragment: str) -> None:
    plan = physical_plan(df)
    if fragment not in plan:
        raise AssertionError(f"expected {fragment!r} in physical plan:\n{plan}")


_SHUFFLE_MARKERS = (
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "Exchange RoundRobinPartitioning",
    "Exchange SinglePartition",
)


def assert_no_exchange(df: DataFrame) -> None:
    """Prove a plan is shuffle-free — e.g. a join of co-bucketed tables
    (the reference's pre-sorted merge-join path, ``MergeJoin.java:217-251``).
    BroadcastExchange is allowed: it ships a hash table, not a shuffle."""
    plan = simple_plan(df)
    for marker in _SHUFFLE_MARKERS:
        if marker in plan:
            raise AssertionError(f"unexpected shuffle {marker!r} in plan:\n{plan}")


def count_shuffles(df: DataFrame) -> int:
    plan = simple_plan(df)
    return sum(plan.count(m) for m in _SHUFFLE_MARKERS)


def executed_exchange_metrics(df: DataFrame) -> dict:
    """MEASURED shuffle cost of an already-executed DataFrame (call
    after an action on ``df``): walks the AQE-final physical tree via
    py4j, unwrapping AdaptiveSparkPlanExec/QueryStageExec wrappers, and
    sums each real shuffle Exchange's ``shuffleRecordsWritten`` /
    ``shuffleBytesWritten`` SQLMetrics. ReusedExchange nodes are
    counted separately and contribute no volume — runtime exchange
    reuse is exactly what makes measured ≤ static. Scalar-subquery
    plans are included where exposed via ``subqueries()``.

    Static plan text says where shuffles CAN happen; this says how many
    rows/bytes actually moved — the number that matters at 100 TB.
    Sibling: ``plans.metrics.collect_plan_metrics`` harvests
    per-operator ``numOutputRows`` (the Hadoop-counter analog); this
    one is exchange-focused and exchange-reuse-aware."""
    def walk(node):
        cls = node.getClass().getName()
        if cls.endswith("AdaptiveSparkPlanExec"):
            yield from walk(node.executedPlan())
            return
        if "QueryStageExec" in cls:
            yield from walk(node.plan())
            return
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))
        try:
            sub = node.subqueries()
            for i in range(sub.size()):
                yield from walk(sub.apply(i))
        except Exception:
            pass

    out = {"exchanges": 0, "reused": 0, "rows": 0, "bytes": 0}
    for node in walk(df._jdf.queryExecution().executedPlan()):
        name = node.nodeName()
        if name == "ReusedExchange":
            out["reused"] += 1
            continue
        if not name.startswith("Exchange"):
            continue
        out["exchanges"] += 1
        m = node.metrics()
        it = m.keys().iterator()
        while it.hasNext():
            k = it.next()
            if k == "shuffleRecordsWritten":
                out["rows"] += m.apply(k).value()
            elif k == "shuffleBytesWritten":
                out["bytes"] += m.apply(k).value()
    return out
