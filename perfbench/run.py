#!/usr/bin/env python3
"""Closed-loop benchmark of rasterkit_spark on one seeded workload.

Run from the root of a checkout:

    python3 perfbench/run.py --driver-mem 2g --workload raster_cold \\
        --seed 1 --seconds 20 --trace 0

One client keeps one call in flight on ``local[<nproc>]``.  The run

1. generates the workload's inputs from ``--seed`` (numpy, parquet files
   under ``.perfbench/`` in the checkout);
2. sets up: starts the session, loads and caches the inputs
   (``LOAD_ROUNDS`` times, median counted), and makes one untimed, checked
   call of every operation, which also warms the Python workers
   (``setup_s``);
3. calls the operations in whole rounds until ``--seconds`` have passed,
   forcing and checking every result; the operation metrics are medians
   over these calls;
4. prints a human-readable report, then one JSON line as the last line.

With ``--trace 1`` the timed phase alternates whole rounds of calls:
untraced, then with Spark's event-log listener attached and a job group
per call.  The JSON then carries the per-layer metrics (perfbench/layers.py)
instead of the end-to-end ones, including the tracing overhead (traced
minus untraced operation medians).  Exit status is non-zero, with no JSON
line, when the checkout holds no ``rasterkit_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
LOAD_ROUNDS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-mem", default="2g",
                   help="RASTERKIT_DRIVER_MEM for the session (JVM heap)")
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is the self-test scale")
    p.add_argument("--corrupt", default=None,
                   help="self-test: tamper with this operation's results")
    return p.parse_args(argv)


def configure_environment(args, work: str) -> int:
    """Point every process at the checkout: the package on PYTHONPATH for
    the Python workers, scratch and shuffle files under ``work``, one BLAS
    thread per worker.  Returns the core count."""
    if not os.path.isfile(os.path.join(ROOT, "rasterkit_spark",
                                       "__init__.py")):
        sys.exit(f"perfbench: no rasterkit_spark package under {ROOT}; "
                 "run from the root of a checkout")
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["RASTERKIT_DRIVER_MEM"] = args.driver_mem
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={local} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        # a fixed, pre-touched heap: otherwise the JVM's PSS follows G1's
        # run-to-run heap sizing (±15% on one seed) instead of the program.
        # C1 only: with the C2 tier the calls kept speeding up for the first
        # ~25 s of timed calls (extract 4.0 → 3.1 s), longer than a run can
        # warm up, so where a run's window fell on that slope decided its
        # medians; under C1 the second call runs within a few per cent of
        # the later ones, so the untimed first call is warm-up enough
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
        f'-Xms{args.driver_mem} -XX:+AlwaysPreTouch '
        '-XX:TieredStopAtLevel=1" pyspark-shell')
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    return cores


def start_session(cores: int):
    from rasterkit_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit: the JVM leaves when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Calls:
    """Runs, times and checks calls; ``records`` keeps one dict per call."""

    def __init__(self, workload):
        self.w = workload
        self.seq = 0
        self.records: list[dict] = []

    def call(self, op: str, phase: str, spark=None) -> dict:
        w, i = self.w, self.seq
        self.seq += 1
        group = f"perfbench/{op}/{i}" if spark is not None else None
        rec = dict(op=op, i=i, phase=phase, group=group, ok=False, units=0,
                   useful=0.0, t0=time.perf_counter(), call_s=0.0,
                   wall_s=0.0)
        try:
            w.prepare(op, i)
            if group:
                spark.sparkContext.setJobGroup(group, group)
            t0 = time.perf_counter()
            df = w.invoke(op, i)
            t1 = time.perf_counter()
            rows = w.force(op, df)
            t2 = time.perf_counter()
            rec.update(t0=t0, call_s=t1 - t0, wall_s=t2 - t0)
            rec["ok"] = bool(w.check(op, i, rows))
            rec["units"] = int(w.units(op, rows))
            rec["useful"] = w.useful(op, rows)
        except Exception:   # a failed call is counted, the run goes on
            traceback.print_exc()
        finally:
            if group:
                spark.sparkContext.setJobGroup(None, None)
        print(f"perfbench: {phase} {op} call {i}: wall {rec['wall_s']:.3f} s"
              f", driver {rec['call_s']:.3f} s"
              + ("" if rec["ok"] else ", FAILED its check"),
              file=sys.stderr, flush=True)
        self.records.append(rec)
        return rec

    def timed(self, ops, seconds: float, phase: str) -> None:
        """Whole rounds over ``ops`` (so every run has the same operation
        mix) for about ``seconds``, at least one round."""
        deadline = time.perf_counter() + seconds
        while True:
            t0 = time.perf_counter()
            for op in ops:
                self.call(op, phase)
            t1 = time.perf_counter()
            # stop once less than half a round is left: the phase then
            # lasts ``seconds`` give or take half a round, not up to a
            # whole round more
            if t1 + (t1 - t0) / 2 >= deadline:
                return

    def alternating(self, ops, seconds: float, spark, log_dir: str) -> None:
        """Whole rounds alternating untraced ("timed") and traced, starting
        and ending untraced, for ``seconds`` and at least three rounds: the
        untraced rounds bracket the traced ones, so the JVM's warm-up trend
        does not bias the tracing-overhead comparison.  Traced rounds run
        under Spark's event-log listener (one log per round) with a job
        group per call."""
        import layers

        deadline = time.perf_counter() + seconds
        k = 0
        while k < 3 or k % 2 == 0 or time.perf_counter() < deadline:
            if k % 2 == 0:
                for op in ops:
                    self.call(op, "timed")
            else:
                with layers.EventLog(spark, os.path.join(log_dir, str(k))):
                    for op in ops:
                        self.call(op, "traced", spark)
            k += 1


def setup(workload, calls: Calls, cores: int) -> tuple:
    """Set up the run; returns (spark, {phase: seconds}).

    Phases: session start, loading and caching the inputs, and one
    untimed, checked call of every operation (which also starts and warms
    the Python workers).  The load is the part that can repeat inside one
    process, so it runs ``LOAD_ROUNDS`` times (each after dropping every
    cache) and counts with its median; the session and the first calls
    happen once per process by nature.  A restarted SparkContext is not an
    option: the engine's module-level pandas UDFs bind to the first one."""
    phases = {}
    t0 = time.perf_counter()
    spark = start_session(cores)
    phases["session_s"] = time.perf_counter() - t0
    loads = []
    for _ in range(LOAD_ROUNDS):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        workload.load(spark)
        loads.append(time.perf_counter() - t0)
    phases["load_s"] = median(loads)
    t0 = time.perf_counter()
    for op in workload.ops:
        calls.call(op, "setup")
    phases["first_calls_s"] = time.perf_counter() - t0
    return spark, phases


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Highest whole percentile with at least ten samples above it."""
    xs = sorted(xs)
    for p in range(99, 49, -1):
        v = xs[min(len(xs) - 1, math.ceil(p / 100 * len(xs)) - 1)] \
            if xs else 0.0
        if sum(1 for x in xs if x > v) >= 10:
            return p, v
    return None, None


def op_summary(records, ops, phase: str) -> dict:
    out = {}
    for op in ops:
        walls = [r["wall_s"] for r in records
                 if r["op"] == op and r["phase"] == phase]
        p, v = tail(walls)
        out[op] = dict(median=median(walls), n=len(walls), tail_p=p,
                       tail=v)
    return out


def end_to_end(records, ops, phases, pss) -> dict:
    timed = [r for r in records if r["phase"] == "timed"]
    peaks = [pss.peak_mb(r["t0"], r["t0"] + r["wall_s"]) for r in timed]
    summ = op_summary(records, ops, "timed")
    meds = [summ[op]["median"] for op in ops]
    # one round at the median: median units of each operation's passing
    # calls over the sum of the operations' median walls, so that a few
    # slow calls move it no more than they move the medians
    units = sum(median([r["units"] for r in timed if r["op"] == op
                        and r["ok"]] or [0]) for op in ops)
    return {
        "setup_s": (sum(phases.values()), "s"),
        "op_wall_s": (math.exp(sum(math.log(m) for m in meds) / len(meds)),
                      "s"),
        "units_per_s": (units / sum(meds), "units/s"),
        "peak_mem_mb": (median(peaks), "MB"),
    }


def report_end_to_end(workload, records, phases, metrics) -> None:
    ops = workload.ops
    summ = op_summary(records, ops, "timed")
    print(f"workload {workload.name}: ops {', '.join(ops)}; "
          f"unit of units_per_s: {workload.unit}")
    for k, v in workload.describe().items():
        print(f"  size {k} = {v}")
    print("  set-up phases: " + ", ".join(f"{k} {v:.3f}"
                                          for k, v in phases.items()))
    for op in ops:
        s = summ[op]
        tail_txt = (f"p{s['tail_p']} {s['tail']:.4f} s"
                    if s["tail_p"] else "no percentile has 10 samples above")
        print(f"  {op}_s = {s['median']:.4f} s (median; {tail_txt}; "
              f"n = {s['n']})")
    attempted = len(records)
    failed = sum(1 for r in records if not r["ok"])
    for name, (value, unit) in metrics.items():
        print(f"  {name} = {value:.4f} {unit}")
    print(f"  error_rate = {failed / attempted:.4f} ratio "
          f"({failed} failed of {attempted} attempted)")


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    try:
        cores = configure_environment(args, work)
        return run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)   # kept when a traced run left its spans there
        except OSError:
            pass


def run(args, work: str, cores: int) -> int:
    import procmem
    import workloads

    if args.workload not in workloads.WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; one of "
                 + ", ".join(workloads.WORKLOADS))
    w = workloads.WORKLOADS[args.workload](args.seed, work, args.scale,
                                           cores)
    w.corrupt = args.corrupt
    t0 = time.perf_counter()
    w.generate()
    gen_s = time.perf_counter() - t0
    calls = Calls(w)
    spark, phases = setup(w, calls, cores)
    print(f"perfbench: inputs generated in {gen_s:.2f} s; set-up "
          + ", ".join(f"{k} {v:.2f}" for k, v in phases.items()),
          file=sys.stderr, flush=True)
    if args.trace:
        import layers

        log_dir = os.path.join(work, "eventlog")
        calls.alternating(w.ops, args.seconds, spark, log_dir)
        untraced = {op: s["median"] for op, s in
                    op_summary(calls.records, w.ops, "timed").items()}
        census = layers.job_census(spark, calls.records)
        stop_session(spark)
        out = layers.per_layer(w, calls.records, census, log_dir, untraced)
        layers.report(w, out)
        layers.write_spans(os.path.join(WORK, f"trace_{args.workload}_"
                                        f"{args.seed}.json"),
                           calls.records, out)
        metrics = out["metrics"]
    else:
        t0 = time.perf_counter()
        with procmem.PeakPss() as pss:
            calls.timed(w.ops, args.seconds, "timed")
        timed = [r for r in calls.records if r["phase"] == "timed"]
        print(f"perfbench: timed phase {time.perf_counter() - t0:.2f} s, "
              f"{len(timed)} calls, "
              f"{sum(r['wall_s'] for r in timed):.2f} s inside calls",
              file=sys.stderr, flush=True)
        stop_session(spark)
        metrics = end_to_end(calls.records, w.ops, phases, pss)
        report_end_to_end(w, calls.records, phases, metrics)
    failed = sum(1 for r in calls.records if not r["ok"])
    result = {
        "correct": failed == 0,
        "attempted": len(calls.records),
        "failed": failed,
        # a run whose calls all failed has no timings: 0, never NaN
        "metrics": {k: {"value": float(v) if math.isfinite(v) else 0.0,
                        "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
