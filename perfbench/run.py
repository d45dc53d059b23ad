#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py), makes
the seeded inputs (perfbench/gen.py), runs the harness JVM, checks the
outputs and prints the metrics, each with its unit. The last line of
stdout is one JSON object: correct, attempted, failed and metrics
(end-to-end metrics untraced, per-layer metrics with --trace 1). The exit
code is non-zero on any output mismatch or when the run cannot complete.

Everything it writes goes under .bench_build/ in the repository root.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

JVM_TIMEOUT_S = 170
WORKLOADS = ("etl_microbatch", "mv_refresh")
JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(args, run_dir, seconds):
    work, out = os.path.join(run_dir, "work"), os.path.join(run_dir, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    # -XX:-UsePerfData and the tmp dirs keep the JVM's files inside the run dir
    cmd = ["java", *JDK_OPENS, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(), "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(seconds), "--trace", str(args.trace),
           "--input", os.path.join(run_dir, "input"), "--work", work, "--out", out]
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("harness JVM timed out")
    result = os.path.join(out, "result.json")
    if not os.path.exists(result):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"harness JVM exited {code} without a result")
    with open(result) as f:
        return json.load(f), code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.time()
    build.build()
    log(f"build ready in {time.time() - t0:.1f}s")
    run_dir = os.path.join(build.OUT, "runs", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # the generator runs while the JVM starts; the harness waits for it
    gen = subprocess.Popen([sys.executable, os.path.join(build.HERE, "gen.py"),
                            "--workload", args.workload, "--seed", str(args.seed),
                            "--out", os.path.join(run_dir, "input")])
    try:
        res, code = run_jvm(args, run_dir, args.seconds)
    finally:
        if gen.wait() != 0:
            raise SystemExit(f"input generator exited {gen.returncode}")
    log(f"harness done in {time.time() - t0:.1f}s (exit {code})")

    keep = os.path.join(build.OUT, "results")
    os.makedirs(keep, exist_ok=True)
    shutil.copy(os.path.join(run_dir, "out", "result.json"),
                os.path.join(keep, f"{args.workload}-{args.seed}-{args.trace}.json"))
    report = metrics.report(args.workload, res, run_dir, traced=bool(args.trace))
    for line in report["lines"]:
        print(line)
    for problem in report["problems"]:
        print(f"CHECK FAILED: {problem}")
    summary = {"correct": not report["problems"], "attempted": report["attempted"],
               "failed": report["failed"], "metrics": report["metrics"]}
    print(json.dumps(summary))
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    sys.exit(0 if summary["correct"] else 1)


if __name__ == "__main__":
    main()
