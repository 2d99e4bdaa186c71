"""Executed-plan SQLMetric extraction: the measured answer to "which
shuffle becomes the bottleneck at 100x".

Plan-SHAPE tests (test_plan_quality.py) pin which operators appear;
this module reads the runtime SQLMetrics off the EXECUTED plan so the
repo can also pin how many BYTES actually crossed each exchange — the
quantity that decides whether a query survives a 1000-executor
scale-up. Works through AQE: the walk descends AdaptiveSparkPlanExec
into its final executed plan and unwraps QueryStageExec reuse nodes.

Usage:
    df = queries["q1_pricing_summary"](spark, sf)
    df.collect()                      # metrics populate on execution
    s = exchange_summary(df)
    s["shuffle_bytes"], s["n_shuffles"], s["broadcast_rows"], ...
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame


def _walk(node):
    yield node
    cname = node.getClass().getName()
    if cname.endswith("AdaptiveSparkPlanExec"):
        # descend the FINAL adaptive plan, not the initial guess
        yield from _walk(node.executedPlan())
        return
    if "QueryStage" in cname:
        yield from _walk(node.plan())
        return
    for i in range(node.children().size()):
        yield from _walk(node.children().apply(i))


def _metric_values(jvm, node) -> dict[str, int]:
    jmap = jvm.scala.collection.JavaConverters.mapAsJavaMap(node.metrics())
    return {k: jmap.get(k).value() for k in jmap.keySet().toArray()}


def exchange_summary(df: DataFrame) -> dict[str, Any]:
    """Aggregate exchange/scan metrics of ``df``'s EXECUTED plan.

    Call only after an action ran on this exact DataFrame (collect/
    toPandas — a ``write`` executes a cloned QueryExecution whose
    metrics this handle cannot see, and an unexecuted plan reports
    zeros). Reused (deduplicated) query stages are counted once per
    appearance in the final plan tree, matching what actually ran.

    Returns: n_shuffles, shuffle_records, shuffle_bytes (bytes written
    to shuffle storage), shuffle_data_size (pre-serialization row
    bytes), n_broadcasts, broadcast_rows, broadcast_bytes, scan_rows
    (rows produced by all file scans — the denominator for
    bytes-per-input-row).

    ``broadcast_bytes`` is the built relation's ``dataSize``: for a
    hashed relation that is its allocated page memory, which grows with
    the memory per core, not with the payload. ``broadcast_rows`` is the
    core-count-independent measure of what was broadcast.
    """
    spark = df.sparkSession
    jvm = spark._jvm
    plan = df._jdf.queryExecution().executedPlan()
    out = {
        "n_shuffles": 0,
        "shuffle_records": 0,
        "shuffle_bytes": 0,
        "shuffle_data_size": 0,
        "n_broadcasts": 0,
        "broadcast_rows": 0,
        "broadcast_bytes": 0,
        "scan_rows": 0,
    }
    seen: set[int] = set()
    for n in _walk(plan):
        # the same ShuffleExchangeExec instance can appear under both a
        # QueryStageExec and a ReusedExchangeExec — count physical work once
        try:
            ident = n.id()  # SparkPlan.id: unique per plan-node instance
        except Exception:
            ident = id(n)
        key = (n.getClass().getName(), ident)
        cname = n.getClass().getName().rsplit(".", 1)[-1]
        if "ShuffleExchange" in cname:
            if key in seen:
                continue
            seen.add(key)
            m = _metric_values(jvm, n)
            out["n_shuffles"] += 1
            out["shuffle_records"] += m.get("shuffleRecordsWritten", 0)
            out["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
            out["shuffle_data_size"] += m.get("dataSize", 0)
        elif "BroadcastExchange" in cname:
            if key in seen:
                continue
            seen.add(key)
            m = _metric_values(jvm, n)
            out["n_broadcasts"] += 1
            out["broadcast_rows"] += m.get("numOutputRows", 0)
            out["broadcast_bytes"] += m.get("dataSize", 0)
        elif "FileSourceScan" in cname or cname.endswith("BatchScanExec"):
            if key in seen:
                continue
            seen.add(key)
            m = _metric_values(jvm, n)
            out["scan_rows"] += m.get("numOutputRows", 0)
    return out
