#!/usr/bin/env python3
"""Steadiness and exact-repeat checks for the benchmark.

Spread: run each workload once per seed and report, per end-to-end
metric, the quartile spread (q3 - q1) / median over the runs, as
`statistics.quantiles(values, n=4)` gives the quartiles:

    python3 perfbench/steady.py spread --workloads etl_microbatch,mv_refresh \
        --seeds 1-10 --seconds 12

Exact repeat: two traced runs of one workload with the same seed; lists
every op whose ledger differs, counts (jobs, stages, tasks, files) apart
from byte totals (which also move with engine-written timestamps):

    python3 perfbench/steady.py repeat --workloads mv_refresh --seeds 7 --seconds 12

Results are appended to .bench_build/steady.jsonl.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LOG = os.path.join(ROOT, ".bench_build", "steady.jsonl")
COUNT_KEYS = ("jobs", "stages", "tasks", "input_files", "files_written")
BYTE_KEYS = ("input_bytes", "shuffle_bytes", "bytes_written")


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if p.returncode != 0 or res is None or not res["correct"]:
        sys.stderr.write(p.stdout[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return res, time.time() - t0


def record(entry):
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    with open(LOG, "a") as f:
        f.write(json.dumps(entry) + "\n")


def spread(args):
    for w in args.workloads.split(","):
        values, walls = {}, []
        for s in seeds(args.seeds):
            res, wall = run(w, s, args.seconds, 0)
            walls.append(wall)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {s}: {wall:.0f}s " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        out = {}
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            out[k] = {"median": statistics.median(vs), "spread": (q3 - q1) / statistics.median(vs),
                      "values": vs}
            print(f"{w} {k}: median {out[k]['median']:.4g} spread {out[k]['spread']:.3f}")
        print(f"{w}: wall per run median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        record({"kind": "spread", "workload": w, "seconds": args.seconds,
                "seeds": seeds(args.seeds), "metrics": out, "wall_s": walls})


def repeat(args):
    for w in args.workloads.split(","):
        seed = seeds(args.seeds)[0]
        ledgers = []
        for i in range(2):
            run(w, seed, args.seconds, 1)
            path = os.path.join(ROOT, ".bench_build", "runs", w, "out", "ledger.json")
            with open(path) as f:
                ledgers.append(json.load(f))
            shutil.copy(path, os.path.join(os.path.dirname(LOG), f"ledger-{w}-{seed}-{i}.json"))
        common = sorted(set(ledgers[0]) & set(ledgers[1]))
        out = {"kind": "repeat", "workload": w, "seed": seed, "seconds": args.seconds,
               "common_ops": len(common)}
        for label, keys in (("counts", COUNT_KEYS), ("bytes", BYTE_KEYS)):
            differ = [op for op in common
                      if any(ledgers[0][op][k] != ledgers[1][op][k] for k in keys)]
            for op in differ:
                a, b = ledgers[0][op], ledgers[1][op]
                print(f"{w} {op}: " + ", ".join(f"{k} {a[k]} != {b[k]}" for k in keys if a[k] != b[k]))
            share = len(differ) / len(common) if common else 0.0
            print(f"{w}: {len(differ)} of {len(common)} common ops differ in {label} ({share:.1%})")
            out[f"differ_{label}"] = differ
        record(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("spread", "repeat"))
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    spread(args) if args.mode == "spread" else repeat(args)


if __name__ == "__main__":
    main()
