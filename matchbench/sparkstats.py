"""Spark's own per-operator and per-task numbers for one executed query,
read from outside the engine.

Operator metrics come from the executed physical plan of the collected
DataFrame (through the AQE final plan and its query stages); task
numbers come from the application status store, which fills with the
UI disabled. Both are read after the action returns, outside the timed
operation.
"""

from __future__ import annotations

import statistics


def plan_nodes(df) -> list[tuple[str, dict[str, int]]]:
    """Pre-order (node name, {metric: value}) of the executed plan.
    Timing metrics are as Spark stores them: ms for ``*Time`` python
    and scan metrics, ns for ``shuffleWriteTime``."""
    out: list[tuple[str, dict[str, int]]] = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        metrics, it = {}, node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        out.append((node.nodeName(), metrics))
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            children = node.children()
            for i in reversed(range(children.size())):
                stack.append(children.apply(i))
    return out


def _rows_into(nodes, i) -> int:
    """Rows flowing into node i: the first descendant that counts rows
    (codegen adapters and projections carry no row metric)."""
    for name, m in nodes[i + 1:]:
        if "pythonNumRowsReceived" in m:
            return m["pythonNumRowsReceived"]
        if "numOutputRows" in m:
            return m["numOutputRows"]
    return 0


def summarize_plan(nodes) -> dict[str, float]:
    """Scan, Python-boundary, shuffle and aggregate layer metrics.

    ``agg.rows_in``/``agg.rows_out`` describe the LOWEST aggregate of
    the plan (the partial step, which runs right after the match)."""
    s = {
        "spark.scan_ms": 0, "spark.scan.rows": 0,
        "spark.python.start_ms": 0, "spark.python.init_ms": 0,
        "spark.python.run_ms": 0, "spark.python.bytes_in": 0,
        "spark.python.bytes_out": 0, "spark.python.rows_out": 0,
        "spark.shuffle.exchanges": 0, "spark.shuffle.records": 0,
        "spark.shuffle.bytes": 0, "spark.shuffle.write_ms": 0.0,
        "spark.agg.rows_in": 0, "spark.agg.rows_out": 0,
        "spark.agg.peak_mem_bytes": 0, "spark.agg.spill_bytes": 0,
    }
    lowest_agg = None
    for i, (name, m) in enumerate(nodes):
        if name.startswith("Scan") or name == "InMemoryTableScan":
            s["spark.scan_ms"] += m.get("scanTime", 0)
            s["spark.scan.rows"] += m.get("numOutputRows", 0)
        elif name == "MapInArrow":
            s["spark.python.start_ms"] += m.get("pythonBootTime", 0)
            s["spark.python.init_ms"] += m.get("pythonInitTime", 0)
            s["spark.python.run_ms"] += m.get("pythonTotalTime", 0)
            s["spark.python.bytes_in"] += m.get("pythonDataSent", 0)
            s["spark.python.bytes_out"] += m.get("pythonDataReceived", 0)
            s["spark.python.rows_out"] += m.get("pythonNumRowsReceived", 0)
        elif name == "Exchange":
            s["spark.shuffle.exchanges"] += 1
            s["spark.shuffle.records"] += m.get("shuffleRecordsWritten", 0)
            s["spark.shuffle.bytes"] += m.get("shuffleBytesWritten", 0)
            s["spark.shuffle.write_ms"] += m.get("shuffleWriteTime", 0) / 1e6
        elif name.endswith("HashAggregate"):
            lowest_agg = i
            s["spark.agg.peak_mem_bytes"] = max(
                s["spark.agg.peak_mem_bytes"], m.get("peakMemory", 0)
            )
            s["spark.agg.spill_bytes"] += m.get("spillSize", 0)
    if lowest_agg is not None:
        s["spark.agg.rows_in"] = _rows_into(nodes, lowest_agg)
        s["spark.agg.rows_out"] = nodes[lowest_agg][1].get("numOutputRows", 0)
    return s


def job_stats(sc, group: str) -> dict[str, float]:
    """Job wall (union of the group's job intervals, seconds) and the
    task count and skew of its heaviest stage — in every workload the
    stage that runs the Python match kernel."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    intervals, stages = [], set()
    for jid in tracker.getJobIdsForGroup(group):
        job = store.job(jid)
        start, end = job.submissionTime(), job.completionTime()
        if start.isDefined() and end.isDefined():
            intervals.append((start.get().getTime(), end.get().getTime()))
        info = tracker.getJobInfo(jid)
        stages.update(info.stageIds if info else ())
    busy_ms, cursor = 0, None
    for a, b in sorted(intervals):
        if cursor is None or a > cursor:
            busy_ms += b - a
            cursor = b
        elif b > cursor:
            busy_ms += b - cursor
            cursor = b
    heaviest: list[int] = []
    for sid in stages:
        info = tracker.getStageInfo(sid)
        if info is None or info.numCompletedTasks == 0:
            continue  # skipped: its shuffle output was reused
        tasks = store.taskList(sid, info.currentAttemptId, 100000)
        run_ms = []
        for k in range(tasks.size()):
            metrics = tasks.apply(k).taskMetrics()
            if metrics.isDefined():
                run_ms.append(int(metrics.get().executorRunTime()))
        if sum(run_ms) > sum(heaviest):
            heaviest = run_ms
    med = statistics.median(heaviest) if heaviest else 0
    return {
        "job_s": busy_ms / 1000.0,
        "spark.python.tasks": len(heaviest),
        "spark.stage.task_skew": (max(heaviest) / med) if med else 1.0,
    }
