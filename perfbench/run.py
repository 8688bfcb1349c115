#!/usr/bin/env python3
"""The graft benchmark: one named workload, one seed, one JSON result.

    python3 perfbench/run.py --workload lakehouse --seed 7 [--seconds 18] [--trace 0|1]

Builds the engine and the harness when their sources changed (see
build.py), runs the JVM harness in a fresh directory under .bench_build/,
checks every op's output, and prints each metric with its unit, the
output-check verdict, and as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer ones, from
a run whose passes alternate between untraced and traced.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402
import verify  # noqa: E402

WORKLOADS = ("lakehouse", "scale")
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
             "heap_retained_mb": "MB"}
EXTRA_UNITS = {"trace.overhead": "ratio", "error_rate": "ratio", "tmp_leak_mb": "MB",
               "op_samples": "count", "jvm.gc_s": "s", "jvm.jit_s": "s", "jvm.jit_pass_s": "s"}
JVM_TIMEOUT_S = 170


def tree_bytes(d):
    total = 0
    for dirpath, _, files in os.walk(d):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def run_jvm(cp, args, run_dir):
    """Run the harness; (raw results, MB it left in its temp dir)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", *build.OPENS, "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", ":".join(cp), "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(run_dir / "work"), "--out", str(run_dir / "raw.json")]
    log = run_dir / "jvm.log"
    with open(log, "w") as f:
        try:
            subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S, check=True)
        except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
            sys.stderr.write(Path(log).read_text()[-4000:])
            raise SystemExit(f"harness failed: {e}")
    # what the engine left in its temp dir after the JVM exited: measured,
    # then removed so the next run starts clean
    leak_mb = tree_bytes(tmp) / stats.MB
    shutil.rmtree(tmp, ignore_errors=True)
    return json.loads((run_dir / "raw.json").read_text()), leak_mb


def check_outputs(raw, out_dir):
    """(attempted, failed, {op: reason}) over the timed executions.

    An execution fails if it threw, or if its fingerprint differs from the
    warm pass's, whose output was compared to DuckDB (for ops with check
    SQL). An op whose warm output failed that check fails every execution.
    """
    bad = {w["name"]: f"warm pass threw: {w['error']}" for w in raw["warm"] if w["error"]}
    for op, why in verify.check(raw["views"], raw["oracle"], raw["violations"], out_dir).items():
        if why:
            bad.setdefault(op, why)
    warm_fp = {w["name"]: w["fp"] for w in raw["warm"]}
    timed = [o for p in raw["passes"] for o in p["ops"]]
    failed = 0
    for o in timed:
        if o["error"]:
            bad.setdefault(o["name"], f"threw: {o['error']}")
        elif o["fp"] != warm_fp[o["name"]]:
            bad.setdefault(o["name"], "output not stable: fingerprint differs from the checked warm pass")
        if o["error"] or o["name"] in bad or o["fp"] != warm_fp[o["name"]]:
            failed += 1
    return len(timed), failed, bad


def e2e_metrics(raw):
    plain = [p for p in raw["passes"] if not p["traced"]]
    lat = [(o["t3"] - o["t0"]) / 1000.0 for p in plain for o in p["ops"] if not o["error"]]
    p50, n = stats.percentile(lat, 0.5)
    p90, _ = stats.percentile(lat, 0.9)
    return {
        # the median of the repeated session-and-inputs rounds, plus the
        # one warm pass that builds the ops' fixtures
        "setup_s": stats.median(raw["setup_rounds_s"]) + raw["warm_pass_s"],
        "pass_s": stats.median([(p["end_ms"] - p["start_ms"]) / 1000.0 for p in plain]),
        "op_p50_s": p50, "op_p90_s": p90,
        "heap_retained_mb": raw["heap_retained_mb"],
    }, n


def layer_metrics(raw, trace_file):
    """Medians over the traced passes of each pass's per-layer totals; the
    per-op numbers and span trees go to `trace_file`."""
    totals, trees = [], []
    for i, p in enumerate(raw["passes"]):
        if p["traced"]:
            total, per_op = stats.pass_layers(p["ops"], raw["jobs"], raw["batches"], raw["cpus"])
            totals.append(total)
            trees.append({"pass": i, "ops": [dict(t, layers=m) for m, t in per_op]})
    trace_file.parent.mkdir(parents=True, exist_ok=True)
    trace_file.write_text(json.dumps({"workload": raw["workload"], "seed": raw["seed"],
                                      "passes": trees}, indent=1))
    return {k: stats.median([t[k] for t in totals]) for k in stats.LAYER_UNITS}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float,
                    default=json.loads((build.ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build.classpath()
    run_dir = build.BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        raw, leak_mb = run_jvm(cp, args, run_dir)
        attempted, failed, bad = check_outputs(raw, run_dir / "work" / "out")
        results = build.BUILD / "results"
        results.mkdir(exist_ok=True)
        shutil.copy(run_dir / "raw.json", results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, samples = e2e_metrics(raw)
    extra = {"error_rate": failed / attempted, "tmp_leak_mb": leak_mb, "op_samples": samples,
             "jvm.gc_s": raw["jvm"]["gc_s"], "jvm.jit_s": raw["jvm"]["jit_s"]}
    if args.trace:
        wall = {t: stats.median([p["end_ms"] - p["start_ms"] for p in raw["passes"] if p["traced"] == t])
                for t in (False, True)}
        extra["trace.overhead"] = wall[True] / wall[False]
        extra["jvm.jit_pass_s"] = stats.median([p["jit_s"] for p in raw["passes"] if p["traced"]])
        trace_file = build.BUILD / "traces" / f"{args.workload}-seed{args.seed}.json"
        reported = dict(layer_metrics(raw, trace_file), **extra)
        shown = dict(reported, **{f"untraced.{k}": v for k, v in e2e.items()})
        print(f"span trees of the traced passes: {trace_file}")
    else:
        reported = e2e
        shown = dict(e2e, **extra)

    units = {**stats.LAYER_UNITS, **EXTRA_UNITS, **E2E_UNITS}
    for k, v in shown.items():
        print(f"{k:28s} {v:12.4f} {units[k.removeprefix('untraced.')]}")
    for op, why in sorted(bad.items()):
        print(f"check FAIL {op}: {why}")
    checked = len(raw["oracle"]) + len(raw["violations"])
    print(f"output check: {'PASS' if not bad else 'FAIL'} ({checked} of {len(raw['warm'])} ops "
          f"compared to DuckDB, {attempted} timed executions fingerprint-checked, {failed} failed)")
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in reported.items()}}))


if __name__ == "__main__":
    main()
