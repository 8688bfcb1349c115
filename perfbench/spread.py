#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, the way bounds are judged.

    python3 perfbench/spread.py --workload scale --seeds 1-10 [--seconds 8] [--out runs.jsonl]

Runs `run.py` once per seed (sequentially) and prints, per metric, the
median, the quartiles and the spread: the distance between the first and
third quartile (statistics.quantiles, n=4) as a share of the median,
beside the metric's bound from BENCHMARK.json and a third of it.
`--from runs.jsonl` re-reads earlier runs instead of running.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", help="append each run's result line here")
    ap.add_argument("--from", dest="src", help="read result lines from this file instead of running")
    args = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = args.seconds or spec["run_seconds"]

    results = []
    if args.src:
        results = [json.loads(line) for line in Path(args.src).read_text().splitlines() if line.strip()]
    else:
        for seed in seeds(args.seeds):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", "0"]
            last = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout.strip().splitlines()[-1]
            r = dict(json.loads(last), seed=seed, workload=args.workload)
            results.append(r)
            print(f"seed {seed}: correct={r['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(r) + "\n")

    print(f"{'metric':18s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>8s} {'bound':>6s} {'bound/3':>8s}")
    for name, bound in bounds.items():
        xs = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        print(f"{name:18s} {med:10.4f} {q1:10.4f} {q3:10.4f} {spread:8.3f} {bound:6.2f} {bound / 3:8.3f}")
    print(f"{len(results)} runs, {sum(not r['correct'] for r in results)} incorrect")


if __name__ == "__main__":
    main()
