#!/usr/bin/env python3
"""Self-test of the benchmark harness at a tiny size.

    python3 perfbench/selftest.py

Run from the repository root. Checks that:
  - every workload prints every end-to-end metric, with its unit, and
    passes its correctness checks;
  - a traced run prints every per-layer metric;
  - a deliberately wrong expected value fails the correctness check, so
    no check passes vacuously;
  - each run removes its scratch directories;
  - in a directory holding only BENCHMARK.json and the benchmark, the run
    fails without printing a result.
Takes a few minutes; exits 1 on the first failure.
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")


def run(args, cwd=None, script=RUN):
    p = subprocess.run([sys.executable, script] + args, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines


def result(lines):
    return json.loads(lines[-1])


def expect(cond, what):
    if not cond:
        print(f"FAIL: {what}")
        sys.exit(1)
    print(f"ok: {what}")


def metric_lines(lines):
    out = {}
    for l in lines:
        parts = l.split()
        if len(parts) == 4 and parts[0] == "metric":
            out[parts[1]] = parts[3]
    return out


def main():
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tiny = ["--seed", "7", "--seconds", "3", "--size", "tiny"]

    for w in spec["workloads"]:
        name = w["name"]
        code, lines = run(["--workload", name, "--trace", "0"] + tiny)
        expect(code == 0, f"{name}: exit code 0")
        res = result(lines)
        expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{name}: result keys")
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{name}: correct, nothing failed")
        printed = metric_lines(lines)
        for m in spec["end_to_end"]:
            got = res["metrics"].get(m["name"])
            expect(got is not None and got["unit"] == m["unit"] and got["value"] > 0,
                   f"{name}: {m['name']} reported in {m['unit']}, above zero")
            expect(printed.get(m["name"]) == m["unit"], f"{name}: {m['name']} printed with its unit")
        expect(not glob.glob(os.path.join(HERE, "target", "run-*")), f"{name}: scratch removed")

    name = spec["workloads"][0]["name"]
    code, lines = run(["--workload", name, "--trace", "1"] + tiny)
    res = result(lines)
    expect(code == 0 and res["correct"], f"{name} traced: correct")
    for m in spec["per_layer"]:
        got = res["metrics"].get(m["name"])
        expect(got is not None and got["unit"] == m["unit"], f"{name} traced: {m['name']} in {m['unit']}")
    expect(not glob.glob(os.path.join(HERE, "target", "run-*")), f"{name} traced: scratch removed")

    for w in spec["workloads"]:
        code, lines = run(["--workload", w["name"], "--trace", "0", "--wrong-expected", "1"] + tiny)
        res = result(lines)
        expect(not res["correct"] and res["failed"] > 0,
               f"{w['name']}: a wrong expected value fails the check")

    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(HERE, "target"))
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "project/target", "project/project"))
        code, lines = run(["--workload", name, "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=bare, script=os.path.join(bare, "perfbench", "run.py"))
        printed_result = bool(lines) and lines[-1].startswith("{")
        expect(code != 0 and not printed_result, "without the library sources: fails, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
