"""Arithmetic of the benchmark: percentiles, interval unions, span self
time, and the per-layer breakdown of traced passes.

Every function here is pure; `run.py` feeds it the raw JSON the JVM
harness writes, and `tests/test_stats.py` pins it.
"""
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name):
    """Metric and workload names: a letter or digit, then [A-Za-z0-9_.-]."""
    return bool(NAME.match(name))


def percentile(values, q):
    """(value, sample count) at quantile q in [0, 1], interpolating
    linearly between closest ranks. None for no samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, 0
    pos = (n - 1) * q
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [start, end] intervals, each first clipped
    to [lo, hi] when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0.0
    end = None
    for s, e in sorted(clipped):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_time(span, children):
    """A span's length minus the union of its children inside it."""
    s, e = span
    return (e - s) - union_length(children, s, e)


MB = 1048576.0

# per-layer metric -> unit; summed over a pass's ops unless derived below
LAYER_UNITS = {
    "entry.body_s": "s", "entry.body_self_s": "s", "entry.body_jobs": "count",
    "catalyst.plan_s": "s", "exec.action_s": "s", "exec.action_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_s": "s", "spark.driver_gap_s": "s", "spark.job_frac": "ratio",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.task_gc_s": "s",
    "spark.slot_util": "ratio", "spark.busy_task_frac": "ratio",
    "spark.input_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "sources.files_written": "count", "sources.meta_files_written": "count",
    "sources.mb_written": "MB", "sources.write_amp": "ratio",
    "streaming.batches": "count", "streaming.batch_s": "s", "streaming.plan_s": "s",
    "streaming.wal_s": "s",
    "codegen.compiles": "count",
}


def op_layers(op, jobs, batches, cpus):
    """Per-layer numbers of one traced op execution, and its span tree.

    A job belongs to the phase (body, plan, action) in which it started;
    its time counts only inside the op's span. Times are epoch ms in, s out.
    """
    t0, t1, t2, t3 = op["t0"], op["t1"], op["t2"], op["t3"]
    if t1 is None:  # threw in the body
        t1 = t2 = t3
    elif t2 is None:  # threw while planning
        t2 = t3
    phases = {"body": (t0, t1), "plan": (t1, t2), "action": (t2, t3)}
    mine = [j for j in jobs if t0 <= j["start_ms"] <= t3]
    spans = {}
    for phase, (s, e) in phases.items():
        js = [j for j in mine if s <= j["start_ms"] <= e]
        iv = [(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else t3) for j in js]
        spans[phase] = {"start_ms": s, "end_ms": e, "self_ms": self_time((s, e), iv),
                        "jobs": [{"id": j["id"], "start_ms": a, "end_ms": b}
                                 for j, (a, b) in zip(js, iv)]}
    all_iv = [(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else t3) for j in mine]
    wall = (t3 - t0) / 1000.0
    job_s = union_length(all_iv, t0, t3) / 1000.0
    tasks = sum(j["tasks"] for j in mine)
    input_mb = sum(j["input_bytes"] for j in mine) / MB
    mb_written = (op.get("bytes") or 0) / MB
    bs = [b for b in batches if t0 <= b["start_ms"] <= t3]
    m = {
        "wall_s": wall,
        "entry.body_s": (t1 - t0) / 1000.0,
        "entry.body_self_s": spans["body"]["self_ms"] / 1000.0,
        "entry.body_jobs": len(spans["body"]["jobs"]),
        "catalyst.plan_s": (t2 - t1) / 1000.0,
        "exec.action_s": (t3 - t2) / 1000.0,
        "exec.action_jobs": len(spans["action"]["jobs"]),
        "spark.jobs": len(mine),
        "spark.stages": sum(j["stages"] for j in mine),
        "spark.tasks": tasks,
        "spark.busy_tasks": sum(j["busy_tasks"] for j in mine),
        "spark.task_wall_s": sum(j["task_wall_ms"] for j in mine) / 1000.0,
        "spark.job_s": job_s,
        "spark.driver_gap_s": wall - job_s,
        "spark.task_run_s": sum(j["run_ms"] for j in mine) / 1000.0,
        "spark.task_cpu_s": sum(j["cpu_ns"] for j in mine) / 1e9,
        "spark.task_gc_s": sum(j["gc_ms"] for j in mine) / 1000.0,
        "spark.input_mb": input_mb,
        "spark.shuffle_read_mb": sum(j["shuffle_read_bytes"] for j in mine) / MB,
        "spark.shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in mine) / MB,
        "spark.spill_mb": sum(j["spill_bytes"] for j in mine) / MB,
        "sources.files_written": op.get("files") or 0,
        "sources.meta_files_written": op.get("meta_files") or 0,
        "sources.mb_written": mb_written,
        "streaming.batches": len(bs),
        "streaming.batch_s": sum(b["trigger_ms"] for b in bs) / 1000.0,
        "streaming.plan_s": sum(b["plan_ms"] for b in bs) / 1000.0,
        "streaming.wal_s": sum(b["wal_ms"] for b in bs) / 1000.0,
        "codegen.compiles": op.get("codegen_compiles") or 0,
    }
    derive(m, cpus)
    tree = {"name": op["name"], "start_ms": t0, "end_ms": t3,
            "self_ms": self_time((t0, t3), [(s["start_ms"], s["end_ms"]) for s in spans.values()]),
            "children": spans}
    return m, tree


def derive(m, cpus):
    """Ratios, recomputed from summed totals (so a pass's ratio weighs its
    ops by size rather than averaging per-op ratios)."""
    wall = m["wall_s"]
    m["spark.job_frac"] = m["spark.job_s"] / wall if wall > 0 else 0.0
    m["spark.slot_util"] = m["spark.task_wall_s"] / (cpus * wall) if wall > 0 else 0.0
    m["spark.busy_task_frac"] = m["spark.busy_tasks"] / m["spark.tasks"] if m["spark.tasks"] else 0.0
    m["sources.write_amp"] = m["sources.mb_written"] / m["spark.input_mb"] if m["spark.input_mb"] else 0.0


def pass_layers(ops, jobs, batches, cpus):
    """Per-layer totals of one traced pass, plus each op's numbers and span tree."""
    per_op = [op_layers(op, jobs, batches, cpus) for op in ops]
    total = {}
    for m, _ in per_op:
        for k, v in m.items():
            total[k] = total.get(k, 0) + v
    derive(total, cpus)
    return total, per_op


def median(values):
    return statistics.median(values) if values else 0.0
