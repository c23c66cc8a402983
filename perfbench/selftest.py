#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py [workload ...]

For every workload (default: all in BENCHMARK.json) it checks that
  * an untraced run prints every end-to-end metric of BENCHMARK.json, and a
    traced run every per-layer metric, each with its declared unit and a
    finite value, and that both runs pass their output checks;
  * a run with a planted wrong answer (`--plant-wrong 1`: a perturbed
    expected recon total, kept-document count or dedup checksum) reports a
    failed operation and `correct: false`;
  * a run whose first warm operation ignores its timeout (`--plant-stall 1`,
    with a 15 s operation timeout) still prints its result line, counts that
    operation as failed, and goes on to run the operations after it.
Exits non-zero on the first failed expectation.
"""
import json
import math
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace, plant=False, stall=False):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    if plant:
        cmd += ["--plant-wrong", "1"]
    if stall:
        cmd += ["--plant-stall", "1", "--op-timeout", "15"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise AssertionError(f"{workload} trace={trace} plant={plant}: exit {proc.returncode}")
    return json.loads(lines[-1])


def expect(cond, msg):
    if not cond:
        raise AssertionError(msg)
    print(f"ok   {msg}")


def check_metrics(workload, trace):
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    r = run(workload, trace)
    expect(set(r) == {"correct", "attempted", "failed", "metrics"},
           f"{workload} trace={trace}: result has exactly the four keys")
    expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
           f"{workload} trace={trace}: outputs correct, {r['attempted']} attempted, none failed")
    expect(set(r["metrics"]) == set(declared),
           f"{workload} trace={trace}: prints every declared metric and no other")
    for name, m in r["metrics"].items():
        expect(m["unit"] == declared[name] and isinstance(m["value"], (int, float))
               and math.isfinite(m["value"]),
               f"{workload} trace={trace}: {name} = {m['value']} {m['unit']}")


def check_planted(workload):
    r = run(workload, 0, plant=True)
    expect(r["failed"] >= 1 and not r["correct"],
           f"{workload}: planted wrong answer reported ({r['failed']} failed of {r['attempted']})")


def check_stall(workload):
    r = run(workload, 0, stall=True)
    expect(not r["correct"] and r["failed"] >= 1 and r["attempted"] > r["failed"] + 1,
           f"{workload}: stalled operation timed out and the run went on "
           f"({r['failed']} failed of {r['attempted']})")


def main():
    workloads = sys.argv[1:] or [w["name"] for w in SPEC["workloads"]]
    for w in workloads:
        check_metrics(w, 0)
        check_metrics(w, 1)
        check_planted(w)
        check_stall(w)
    print("self-test passed")


if __name__ == "__main__":
    main()
