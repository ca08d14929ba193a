"""Per-layer metrics of a traced run, measured from outside the engine.

Sources, per call (each traced call runs under its own Spark job group):

- ``operators``: driver time inside the call before it returns (plan
  building plus the operator's own eager actions), timed by the runner.
- ``spark``: job, stage and task counts from the status tracker; task
  time, stage critical path, shuffle and spill bytes and task skew from
  the Spark event log.
- ``udf``: Python-worker run time and Arrow bytes from the SQL metrics of
  the ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas nodes.
- ``kernels``, ``functions.cells``, ``io.tiffcodec``: direct calls on the
  workload's inputs (see :func:`kernel_benchmarks`).

Layer names follow the package modules; ``spark`` is the engine they plan
onto.  Each metric is reduced to its median over a workload's traced
calls of one operation; the JSON line carries the sum over the workload's
operations (the cost of one call of each), skew as the maximum.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time

import numpy as np

#: per-call metrics, summed over operations in the JSON line
ADDITIVE = ("operators.call_s", "spark.jobs", "spark.stages", "spark.tasks",
            "spark.task_s", "spark.critical_path_s", "spark.driver_gap_s",
            "spark.shuffle_mb", "spark.spill_mb", "udf.worker_s",
            "udf.arrow_mb")
#: every per-call metric, as printed per operation in the report
PER_CALL = ADDITIVE + ("spark.task_skew",)
UNITS = {"call_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
         "task_s": "s", "critical_path_s": "s", "driver_gap_s": "s",
         "shuffle_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
         "worker_s": "s", "arrow_mb": "MB"}
KERNEL_UNITS = {
    "kernels.decode_chunk_mb_s": "MB/s",
    "kernels.clip_chunk_mpx_s": "Mpx/s",
    "kernels.compress_mb_s": "MB/s",
    "kernels.box_reduce_mpx_s": "Mpx/s",
    "kernels.points_in_polygon_mpts_s": "Mpts/s",
    "functions.cells.grid_cell_mpts_s": "Mpts/s",
    "io.tiffcodec.write_tiff_mb_s": "MB/s",
}
PY_TIME = "time to run Python workers"
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
ROWS = "number of output rows"
#: operation -> (ratio name, predicate on a plan node) for the useful-work
#: ratios: the operation's useful outcomes divided by the rows the matching
#: node received
YIELDS = {
    "extract": ("decode_yield", lambda n: n["nodeName"] in (
        "FlatMapGroupsInPandas", "MapInPandas")),
    "pip_join": ("refine_yield", lambda n: n["nodeName"] == "MapInPandas"),
    # the Jaccard threshold filter folds into the second verify join's
    # condition; its probe side carries the candidate pairs
    "minhash": ("verify_yield", lambda n: "array_intersect" in n.get(
        "simpleString", "") and n["nodeName"] in (
        "Filter", "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")),
}


class EventLog:
    """Spark's own event-log listener, attached to the running context for
    the traced phase only, so the untraced phase of the same session runs
    without it.  Writes one uncompressed JSON-lines file under
    ``log_dir``."""

    def __init__(self, spark, log_dir: str):
        os.makedirs(log_dir, exist_ok=True)
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        conf = self._sc.conf().clone() \
            .set("spark.eventLog.compress", "false") \
            .set("spark.eventLog.rolling.enabled", "false")
        no_attempt = getattr(getattr(jvm.scala, "None$"), "MODULE$")
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._sc.applicationId(), no_attempt,
            jvm.java.net.URI("file://" + log_dir), conf,
            sc._jsc.hadoopConfiguration())

    def __enter__(self):
        self._listener.start()
        self._sc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc):
        # events reach listeners asynchronously: drain the bus before
        # detaching so the last call's task and stage events are written
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._listener)
        self._listener.stop()


def job_census(spark, records) -> dict:
    """Exact job, stage and task counts per traced call, from the status
    tracker (call before the session stops)."""
    st = spark.sparkContext.statusTracker()
    out = {}
    for r in records:
        if not r.get("group"):
            continue
        jobs = list(st.getJobIdsForGroup(r["group"]))
        stages = {s for j in jobs if st.getJobInfo(j)
                  for s in list(st.getJobInfo(j).stageIds)}
        ran = [st.getStageInfo(s) for s in stages]
        ran = [s for s in ran if s is not None and s.numCompletedTasks > 0]
        out[r["group"]] = dict(jobs=len(jobs), stages=len(ran),
                               tasks=sum(s.numCompletedTasks for s in ran))
    return out


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)):
        name = os.path.basename(path)
        if os.path.isfile(path) and not name.startswith("appstatus"):
            with open(path) as f:
                for line in f:
                    yield json.loads(line)


def _union_s(intervals) -> float:
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1000.0


def _plan_nodes(plan):
    yield plan
    for c in plan.get("children", []):
        yield from _plan_nodes(c)


def _input_rows_ids(node) -> list[int]:
    """Accumulator ids counting the rows a node receives: the output-row
    metric of its nearest descendant that has one."""
    for c in node.get("children", []):
        for n in _plan_nodes(c):
            ids = [m["accumulatorId"] for m in n["metrics"]
                   if m["name"] in (ROWS, "shuffle records written")]
            if ids:
                return ids[:1]
    return []


def event_log_layers(log_dir: str) -> dict:
    """Reduce the event log to per-job-group sums."""
    group_of_stage, group_of_exec = {}, {}
    intervals, task_times = {}, {}
    acc_sum: dict[int, float] = {}
    acc_name: dict[int, str] = {}
    plans: dict[int, list] = {}
    per_group: dict[str, dict] = {}
    group_of_acc: dict[int, str] = {}
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            ex = props.get("spark.sql.execution.id")
            if g and ex is not None:
                group_of_exec.setdefault(int(ex), set()).add(g)
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g:
                group_of_stage[e["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = group_of_stage.get(info["Stage ID"])
            if g and "Submission Time" in info and "Completion Time" in info:
                intervals.setdefault(g, []).append(
                    (info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            g = group_of_stage.get(e["Stage ID"])
            if not g:
                continue
            m = e.get("Task Metrics") or {}
            acc = per_group.setdefault(g, dict(task_ms=0.0, shuffle=0.0,
                                               spill=0.0))
            run_ms = float(m.get("Executor Run Time", 0))
            acc["task_ms"] += run_ms
            acc["shuffle"] += float((m.get("Shuffle Write Metrics") or {})
                                    .get("Shuffle Bytes Written", 0))
            acc["spill"] += float(m.get("Disk Bytes Spilled", 0))
            task_times.setdefault(g, {}).setdefault(
                e["Stage ID"], []).append(run_ms)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                try:
                    v = float(a.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                acc_sum[a["ID"]] = acc_sum.get(a["ID"], 0.0) + v
                acc_name[a["ID"]] = a.get("Name", "")
                group_of_acc.setdefault(a["ID"], g)
        elif kind.endswith("SQLExecutionStart") or \
                kind.endswith("SQLAdaptiveExecutionUpdate"):
            plans.setdefault(int(e["executionId"]), []).append(
                e["sparkPlanInfo"])
    out = {}
    for g, acc in per_group.items():
        skew = 1.0
        stages = task_times.get(g, {})
        if stages:
            heavy = max(stages.values(), key=sum)
            med = statistics.median(heavy)
            if len(heavy) > 1 and med > 0:
                skew = max(heavy) / med
        out[g] = dict(task_s=acc["task_ms"] / 1000.0,
                      critical_path_s=_union_s(intervals.get(g, [])),
                      shuffle_mb=acc["shuffle"] / 1e6,
                      spill_mb=acc["spill"] / 1e6, task_skew=skew,
                      worker_ms=0.0, arrow_bytes=0.0, yield_in={})
    for i, name in acc_name.items():
        g = group_of_acc.get(i)
        if g in out:
            if name == PY_TIME:
                out[g]["worker_ms"] += acc_sum[i]
            elif name in PY_BYTES:
                out[g]["arrow_bytes"] += acc_sum[i]
    # rows received by the node each useful-work ratio divides by
    for ex, versions in plans.items():
        for g in group_of_exec.get(ex, ()):
            if g not in out:
                continue
            op = g.split("/")[1]
            if op not in YIELDS:
                continue
            ids = {i for p in versions for n in _plan_nodes(p)
                   if YIELDS[op][1](n) for i in _input_rows_ids(n)}
            got = out[g]["yield_in"]
            for i in ids:
                got[i] = acc_sum.get(i, 0.0)
    return out


def kernel_benchmarks(inputs: dict, min_s: float = 0.25) -> dict:
    """Throughput of the engine kernels called directly on ``inputs``
    (see ``Workload.kernel_inputs``): each runs over the whole input set
    repeatedly until ``min_s`` has passed."""
    from rasterkit_spark import kernels as K
    from rasterkit_spark.functions import cells as C
    from rasterkit_spark.io import tiffcodec as TC

    def rate(fn, work_per_pass: float) -> float:
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                return n * work_per_pass / dt

    chunks = inputs["chunks"]          # (blob, compression, predictor, w, h)
    decoded = [np.asarray(K.decode_chunk(b, c, p, w, h)).reshape(h, w)
               for b, c, p, w, h in chunks]
    px = sum(d.size for d in decoded)

    def decode():
        for b, c, p, w, h in chunks:
            K.decode_chunk(b, c, p, w, h)

    def clip():
        for d in decoded:
            h, w = d.shape
            out = np.empty((h, w), dtype=np.uint8)
            K.clip_chunk_into(out, d, w, h, 0, 0, 0, 0, w, h)

    raw = [d.tobytes() for d in decoded]

    def compress():
        for r in raw:
            K.compress(r, K.COMPRESSION_DEFLATE)

    def reduce():
        for d in decoded:
            K.box_reduce_2x2(d)

    x, y = inputs["points"]
    xs, ys = inputs["polygon"]
    window = inputs["window"]
    return {
        "kernels.decode_chunk_mb_s": rate(decode, px / 1e6),
        "kernels.clip_chunk_mpx_s": rate(clip, px / 1e6),
        "kernels.compress_mb_s": rate(compress, px / 1e6),
        "kernels.box_reduce_mpx_s": rate(reduce, px / 1e6),
        "kernels.points_in_polygon_mpts_s": rate(
            lambda: K.points_in_polygon(x, y, xs, ys), len(x) / 1e6),
        "functions.cells.grid_cell_mpts_s": rate(
            lambda: C.grid_cell_id_np(x, y, 8), len(x) / 1e6),
        "io.tiffcodec.write_tiff_mb_s": rate(
            lambda: TC.write_tiff(window), window.size / 1e6),
    }


def per_layer(workload, records, census: dict, log_dir: str,
              untraced: dict) -> dict:
    """Per-operation layer metrics (medians over traced calls) and the
    workload-level JSON metrics."""
    spark_side = event_log_layers(log_dir)
    per_op: dict[str, dict] = {}
    for op in workload.ops:
        calls = [r for r in records if r["op"] == op and r["ok"]
                 and r["phase"] == "traced" and r["group"] in spark_side]
        rows = []
        for r in calls:
            s, c = spark_side[r["group"]], census.get(r["group"], {})
            rows.append({
                "operators.call_s": r["call_s"],
                "spark.jobs": c.get("jobs", 0),
                "spark.stages": c.get("stages", 0),
                "spark.tasks": c.get("tasks", 0),
                "spark.task_s": s["task_s"],
                "spark.critical_path_s": s["critical_path_s"],
                "spark.driver_gap_s": max(r["wall_s"] - s["critical_path_s"],
                                          0.0),
                "spark.shuffle_mb": s["shuffle_mb"],
                "spark.spill_mb": s["spill_mb"],
                "spark.task_skew": s["task_skew"],
                "udf.worker_s": s["worker_ms"] / 1000.0,
                "udf.arrow_mb": s["arrow_bytes"] / 1e6,
                "wall_s": r["wall_s"],
            })
        per_op[op] = {k: statistics.median(x[k] for x in rows)
                      for k in (rows[0] if rows else {})}
        if op in YIELDS and calls:
            got = sum(r["useful"] for r in calls)
            fed = sum(sum(spark_side[r["group"]]["yield_in"].values())
                      for r in calls)
            per_op[op]["operators.yield"] = got / fed if fed else 0.0
            per_op[op]["yield_name"] = YIELDS[op][0]
        per_op[op]["trace.overhead_s"] = \
            per_op[op].get("wall_s", float("nan")) - untraced[op]
    metrics = {}
    for name in ADDITIVE:
        metrics[name] = (sum(per_op[op].get(name, 0.0)
                             for op in workload.ops),
                         UNITS[name.split(".")[-1]])
    metrics["spark.task_skew"] = (max(per_op[op].get("spark.task_skew", 1.0)
                                      for op in workload.ops), "ratio")
    kern = kernel_benchmarks(workload.kernel_inputs())
    for name, unit in KERNEL_UNITS.items():
        metrics[name] = (kern[name], unit)
    ys = [per_op[op]["operators.yield"] for op in workload.ops
          if "operators.yield" in per_op[op]]
    metrics["operators.useful_yield"] = (ys[0] if ys else float("nan"),
                                         "ratio")
    traced = [per_op[op]["wall_s"] for op in workload.ops]
    plain = [untraced[op] for op in workload.ops]
    metrics["trace.overhead_ratio"] = (
        math.exp(sum(map(math.log, traced)) / len(traced)
                 - sum(map(math.log, plain)) / len(plain)), "ratio")
    return dict(per_op=per_op, metrics=metrics)


def report(workload, out: dict) -> None:
    print(f"workload {workload.name} (traced): per-operation layers, "
          "median over traced calls")
    for op, m in out["per_op"].items():
        for k, v in m.items():
            if k in ("wall_s", "yield_name"):
                continue
            layer, metric = k.split(".", 1)
            if k == "operators.yield":
                metric = m["yield_name"]
            unit = UNITS.get(metric, "s" if metric.endswith("_s")
                             else "ratio")
            print(f"  {layer}.{op}.{metric} = {v:.4f} {unit}")
    for k, (v, unit) in out["metrics"].items():
        print(f"  {k} = {v:.4f} {unit}")


def write_spans(path: str, records, out: dict) -> None:
    """Write the run's spans, kept in memory until now: one span per call
    (the call's job group is its trace id) with two children, the driver
    part of the call and the forcing action, plus the per-layer summary."""
    spans = []
    for r in records:
        if "t0" not in r:
            continue
        call_end = r["t0"] + r["call_s"]
        end = r["t0"] + r["wall_s"]
        trace_id = r["group"] or f"untraced/{r['op']}/{r['i']}"
        spans.append(dict(trace=trace_id, name=r["op"], phase=r["phase"],
                          start=r["t0"], end=end, parent=None, ok=r["ok"]))
        spans.append(dict(trace=trace_id, name="operators.call",
                          start=r["t0"], end=call_end, parent=r["op"]))
        spans.append(dict(trace=trace_id, name="force", start=call_end,
                          end=end, parent=r["op"]))
    with open(path, "w") as f:
        json.dump(dict(spans=spans, per_op=out["per_op"],
                       metrics={k: v for k, (v, _) in
                                out["metrics"].items()}), f, indent=1)
