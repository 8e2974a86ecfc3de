"""Engine counters read from a live session, for the traced run.

Two sources:

* the status store's per-stage task metrics, summed over the stages a
  pass created (ids above a before-snapshot, so eviction of older
  stages cannot deflate a pass);
* the SQL metrics of each op's executed plan, read by walking the AQE
  final plan (``AdaptiveSparkPlanExec.executedPlan()`` and
  ``QueryStageExec.plan()``).
"""

from __future__ import annotations

import sys


def _stage_list(spark):
    sc = spark.sparkContext
    gw = sc._gateway
    empty = gw.jvm.java.util.ArrayList()
    quantiles = gw.new_array(gw.jvm.double, 0)
    return sc._jsc.sc().statusStore().stageList(empty, False, False, quantiles, empty)


def max_stage_id(spark) -> int:
    stages = _stage_list(spark)
    return max((stages.apply(i).stageId() for i in range(stages.size())), default=-1)


def _busy_s(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] covered by at least one interval."""
    busy, edge = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, edge), min(b, t1)
        if b > a:
            busy += b - a
            edge = b
    return busy


def stage_totals(spark, min_stage_id: int,
                 windows: list[tuple[float, float]]) -> dict[str, float]:
    """Task-metric sums over stages with id >= ``min_stage_id``;
    ``driver_gap_s`` is the part of the op windows (epoch seconds)
    during which none of those stages was running."""
    stages = _stage_list(spark)
    retained = int(spark.conf.get("spark.ui.retainedStages", "1000"))
    tot = dict.fromkeys(
        ("task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
         "shuffle_write_s", "fetch_wait_s", "spill_bytes", "stages", "tasks"),
        0.0,
    )
    intervals = []
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() < min_stage_id:
            continue
        tot["task_run_s"] += st.executorRunTime() / 1e3
        tot["task_cpu_s"] += st.executorCpuTime() / 1e9
        tot["gc_s"] += st.jvmGcTime() / 1e3
        tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
        tot["shuffle_write_s"] += st.shuffleWriteTime() / 1e9
        tot["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
        tot["spill_bytes"] += st.diskBytesSpilled()
        tot["stages"] += 1
        tot["tasks"] += st.numCompleteTasks()
        sub, done = st.submissionTime(), st.completionTime()
        if sub.isDefined():
            end = done.get().getTime() / 1e3 if done.isDefined() else float("inf")
            intervals.append((sub.get().getTime() / 1e3, end))
    if tot["stages"] > retained // 2:
        print(f"perfbench: WARNING one pass ran {int(tot['stages'])} stages against "
              f"spark.ui.retainedStages={retained}; stage metrics may be evicted",
              file=sys.stderr)
    tot["driver_gap_s"] = sum(
        max(0.0, (t1 - t0) - _busy_s(intervals, t0, t1)) for t0, t1 in windows
    )
    return tot


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _children(node):
    it = node.children().iterator()
    while it.hasNext():
        yield it.next()


def plan_counters(df) -> dict[str, float]:
    """SQL-metric sums over the executed plan of a collected DataFrame."""
    tot = dict.fromkeys(
        ("python_init_s", "python_run_s", "arrow_sent_bytes",
         "arrow_returned_bytes", "parquet_scan_s", "broadcast_build_s",
         "src_rows_out", "src_arrow_sent_bytes", "src_arrow_returned_bytes"),
        0.0,
    )
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            continue  # metrics belong to the original
        m = _metrics(node)
        if "pythonTotalTime" in m:  # any Python UDF / map operator
            tot["python_init_s"] += (m.get("pythonBootTime", 0)
                                     + m.get("pythonInitTime", 0)) / 1e3
            tot["python_run_s"] += m.get("pythonTotalTime", 0) / 1e3
            tot["arrow_sent_bytes"] += m.get("pythonDataSent", 0)
            tot["arrow_returned_bytes"] += m.get("pythonDataReceived", 0)
        elif cls == "BatchScanExec" and "pythonDataReceived" in m:
            tot["src_rows_out"] += m.get("numOutputRows", 0)
            tot["src_arrow_sent_bytes"] += m.get("pythonDataSent", 0)
            tot["src_arrow_returned_bytes"] += m.get("pythonDataReceived", 0)
        elif cls == "FileSourceScanExec":
            tot["parquet_scan_s"] += m.get("scanTime", 0) / 1e3
        elif cls == "BroadcastExchangeExec":
            tot["broadcast_build_s"] += (m.get("collectTime", 0)
                                         + m.get("buildTime", 0)) / 1e3
        todo.extend(_children(node))
        it = node.subqueries().iterator()
        while it.hasNext():
            todo.append(it.next())
    return tot
