#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
harness with sbt (offline) into perfbench/target; later runs reuse that
build while the sources are unchanged. Each run starts one JVM with a
local Spark session, runs the workload for --seconds, checks its answers,
and prints, as its last stdout line, one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end ones; with --trace 1 the per-layer ones, which need a second,
untraced run of the same seed to price the tracing itself.

--size tiny and --wrong-expected 1 exist for the harness self-test
(perfbench/selftest.py).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-sources.sha256")
# a run, both JVMs of a traced run included, ends within this many seconds
RUN_BUDGET_S = 175
TRACES = os.path.join(TARGET, "traces")

# Spark on JDK 17 outside spark-submit needs these (the root build passes
# the same list to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def benchmark_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def source_files(root):
    """Every file the build reads: the library sources and the harness."""
    out = []
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def sources_hash(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compiles with sbt unless the last build saw the same sources."""
    digest = sources_hash(root)
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if "scala-library" in l and not l.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t:.1f}s", file=sys.stderr)


def run_jvm(root, args, traced, scratch, deadline, setup_reps=None):
    """One workload run in its own JVM; returns its result record."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    out = os.path.join(scratch, f"result-{int(traced)}.json")
    work = os.path.join(scratch, f"work-{int(traced)}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation: the collector sizes them the same
    # way in every run
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "1" if traced else "0",
            "--scratch", work, "--out", out, "--size", args.size,
            "--wrong-expected", str(args.wrong_expected)]
    if setup_reps:
        cmd += ["--setup-reps", str(setup_reps)]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{args.workload} did not finish in {RUN_BUDGET_S}s")
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    sys.stdout.write(stdout)
    if not os.path.exists(out):
        fail(f"{args.workload} exited with {proc.returncode} and wrote no result")
    with open(out) as f:
        res = json.load(f)
    spans = out + ".spans.jsonl"
    if os.path.exists(spans):
        os.makedirs(TRACES, exist_ok=True)
        shutil.move(spans, os.path.join(TRACES, f"{args.workload}-seed{args.seed}.spans.jsonl"))
    return res


def main():
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: no library sources under src/main/scala/graft")
    spec = benchmark_spec(root)
    ap = argparse.ArgumentParser(description="graft benchmark: one workload run")
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--wrong-expected", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    build(root)
    deadline = time.time() + RUN_BUDGET_S

    scratch = os.path.join(TARGET, f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    try:
        if args.trace:
            # both runs of a traced pair set up once: setup_s is not reported
            # then, and one set-up each keeps the pair inside the run budget
            res = run_jvm(root, args, False, scratch, deadline, setup_reps=1)
            traced = run_jvm(root, args, True, scratch, deadline, setup_reps=1)
            base = res["e2e"]["op_p50_ms"]["value"]
            over = traced["e2e"]["op_p50_ms"]["value"] - base
            traced["layer"]["trace.overhead_ms"] = {"value": over, "unit": "ms"}
            traced["layer"]["trace.overhead_frac"] = {"value": over / base, "unit": "frac"}
            res["correct"] = res["correct"] and traced["correct"]
            res["attempted"] += traced["attempted"]
            res["failed"] += traced["failed"]
            wanted, got = spec["per_layer"], traced["layer"]
        else:
            res = run_jvm(root, args, False, scratch, deadline)
            wanted, got = spec["end_to_end"], res["e2e"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = {}
    for m in wanted:
        if m["name"] not in got:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
    for name, v in metrics.items():
        print(f"metric {name} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
