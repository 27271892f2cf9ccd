#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout:

    python3 perfbench/run.py --workload bulk_convert --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (perfbench/build.py), runs
the workload in one JVM on local[nproc], checks registry query outputs with
the DuckDB oracle (scripts/check.py) when the workload ran queries, and
prints as the last stdout line one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, the per-layer ones with `--trace 1`. Exits nonzero, without a
result line, when the build or the run fails; exits 1 after the result line
when an output check failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 140
ORACLE_TIMEOUT_S = 30
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def check_queries(oracle):
    """Compares each dumped query output with its DuckDB oracle on the same
    tables (scripts/check.py). Returns (passed, failed); a query the check
    did not pass, or a check that did not run, counts as failed."""
    try:
        r = subprocess.run([sys.executable, "scripts/check.py", oracle["tables"], oracle["out"]],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=ORACLE_TIMEOUT_S)
        out = r.stdout
    except subprocess.TimeoutExpired:
        out = "oracle check exceeded %d s" % ORACLE_TIMEOUT_S
    passed = sum(1 for line in out.splitlines() if line.startswith("PASS "))
    for line in out.splitlines():
        if not line.startswith("PASS "):
            print("perfbench: oracle: " + line, file=sys.stderr)
    return passed, oracle["queries"] - passed


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    build.build()

    work = os.path.abspath(os.path.join(build.OUT, "work", args.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap keeps GC sizing alike from run to run
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "graft.perfbench.PerfBench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work])
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("workload exceeded %d s" % JVM_TIMEOUT_S)
    result = oracle = None
    for line in r.stdout.splitlines():
        if line.startswith("perfbench_result "):
            result = json.loads(line[len("perfbench_result "):])
        elif line.startswith("perfbench_oracle "):
            oracle = json.loads(line[len("perfbench_oracle "):])
        elif line.startswith("perfbench_detail "):
            print(line)
    if r.returncode != 0 or result is None:
        fail("workload run failed (exit %d)" % r.returncode)
    if oracle is not None:
        passed, failed = check_queries(oracle)
        result["attempted"] += passed + failed
        result["failed"] += failed
        result["correct"] = result["correct"] and failed == 0

    got = result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        fail("metrics not reported: " + ", ".join(missing))
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
