#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input scale.

Run from the root of a checkout:

    python3 perfbench/selftest.py

For every workload listed in BENCHMARK.json it makes an untraced and a
traced run (``--scale tiny``) and checks that

- the last line is the JSON result with exactly the metrics BENCHMARK.json
  names for that mode, each with its unit, and no failed call;
- the report above it prints every end-to-end metric, one line per
  operation metric (``<op>_s``) and ``error_rate``, or in a traced run one
  line per operation and layer metric.

The workloads the runner knows but BENCHMARK.json does not list get one
untraced run each, which must pass its checks.  Then it checks that a run
with one corrupted result (a flipped window hash) reports a failed call
and ``error_rate`` above 0, and that in a
directory holding only BENCHMARK.json and the benchmark the command exits
non-zero without printing a result.  Exit status is the number of failed
checks.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers      # noqa: E402
import workloads   # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
FAILURES: list[str] = []


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def bench(workload: str, trace: int, *extra, cwd: str = ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "1",
                             "--seconds", "1", "--trace", str(trace),
                             "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p.returncode, lines[:-1], result


def check_result(tag: str, result, listed) -> None:
    check(result is not None and set(result) == {"correct", "attempted",
                                                  "failed", "metrics"},
          f"{tag}: last line is the JSON result")
    if result is None:
        return
    want = {m["name"]: m["unit"] for m in listed}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    check(got == want, f"{tag}: metrics and units match BENCHMARK.json")
    check(all(isinstance(v["value"], (int, float))
              for v in result["metrics"].values()),
          f"{tag}: every metric value is a number")
    check(result["correct"] and result["failed"] == 0
          and result["attempted"] >= 1, f"{tag}: no failed call")


def main() -> int:
    for spec in SPEC["workloads"]:
        name = spec["name"]
        ops = workloads.WORKLOADS[name].ops
        rc, report, result = bench(name, 0)
        check(rc == 0, f"{name} untraced: exit status 0")
        check_result(f"{name} untraced", result, SPEC["end_to_end"])
        text = "\n".join(report)
        for m in SPEC["end_to_end"]:
            check(any(line.startswith(f"  {m['name']} = ")
                      and line.endswith(f" {m['unit']}") for line in report),
                  f"{name} untraced: report prints {m['name']} in "
                  f"{m['unit']}")
        for op in ops:
            check(f"  {op}_s = " in text, f"{name} untraced: report prints "
                  f"{op}_s")
        check("  error_rate = 0.0000 ratio" in text,
              f"{name} untraced: report prints error_rate 0")

        rc, report, result = bench(name, 1)
        check(rc == 0, f"{name} traced: exit status 0")
        check_result(f"{name} traced", result, SPEC["per_layer"])
        text = "\n".join(report)
        for op in ops:
            for key in layers.PER_CALL:
                layer, metric = key.split(".", 1)
                check(f"  {layer}.{op}.{metric} = " in text,
                      f"{name} traced: report prints {layer}.{op}.{metric}")
            if op in layers.YIELDS:
                y = layers.YIELDS[op][0]
                check(f"  operators.{op}.{y} = " in text,
                      f"{name} traced: report prints operators.{op}.{y}")
            check(f"  trace.{op}.overhead_s = " in text,
                  f"{name} traced: report prints trace.{op}.overhead_s")

    listed = {w["name"] for w in SPEC["workloads"]}
    for name, cls in workloads.WORKLOADS.items():
        if name in listed:
            continue
        rc, report, result = bench(name, 0)
        text = "\n".join(report)
        check(rc == 0 and result is not None and result["correct"]
              and result["failed"] == 0,
              f"{name} (not listed) untraced: runs with no failed call")
        for op in cls.ops:
            check(f"  {op}_s = " in text, f"{name} (not listed) untraced: "
                  f"report prints {op}_s")

    rc, report, result = bench("raster_cold", 0, "--corrupt", "extract")
    text = "\n".join(report)
    check(rc == 0 and result is not None and result["failed"] > 0
          and not result["correct"],
          "corrupted window hash: the JSON result counts a failed call")
    check("  error_rate = 0.0000" not in text and "  error_rate = " in text,
          "corrupted window hash: error_rate above 0")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, path),
                            os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, _, result = bench(SPEC["workloads"][0]["name"], 0, cwd=bare)
        check(rc != 0 and result is None,
              "bare directory: non-zero exit, no result printed")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print(f"{len(FAILURES)} failed check(s)")
    return len(FAILURES)


if __name__ == "__main__":
    sys.exit(main())
