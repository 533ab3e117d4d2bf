"""Turns the harness's output document into the benchmark's metrics.

End-to-end metrics come from an untraced run, per-layer metrics from a
traced one. Per-layer values are per timed pass (totals divided by the
number of passes), so they do not depend on how many passes fit into
the measured seconds.
"""
import functools
import statistics

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "total_s": ("s", "lower"),
    "latency_p50_s": ("s", "lower"),
    "latency_tail_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "store.bytes": ("bytes", "lower"),
    "store.files": ("count", "lower"),
    "store.timed_bytes_written": ("bytes", "lower"),
    "build.s": ("s", "lower"),
    "build.jobs": ("count", "lower"),
    "build.stages": ("count", "lower"),
    "build.tasks": ("count", "lower"),
    "build.task_cpu_s": ("s", "lower"),
    "build.shuffle_write_bytes": ("bytes", "lower"),
    "build.ms_per_job": ("ms", "lower"),
    "plan.s": ("s", "lower"),
    "plan.scans": ("count", "lower"),
    "plan.exchanges": ("count", "lower"),
    "plan.windows": ("count", "lower"),
    "plan.bnl_joins": ("count", "lower"),
    "plan.dup_subtrees": ("count", "lower"),
    "exec.s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.core_util": ("ratio", "higher"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "exec.gc_s": ("s", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.batch_ms.p50": ("ms", "lower"),
    "stream.batch_ms.tail": ("ms", "lower"),
    "stream.commit_ms": ("ms", "lower"),
    "stream.state_rows": ("count", "lower"),
    "trace.unattributed_s": ("s", "lower"),
}

TAIL_BEYOND = 10


def tail(values):
    """The highest percentile with at least TAIL_BEYOND samples above it,
    by nearest rank: (value, percentile, samples beyond). With too few
    samples it is the maximum, with 0 samples beyond."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, 0
    i = n - TAIL_BEYOND - 1
    return xs[i], 100.0 * (i + 1) / n, n - 1 - i


def median(values):
    return statistics.median(values) if values else 0.0


def failures(doc, queries):
    """query -> reason, for every query that threw in any pass or whose
    setup-pass output failed its oracle."""
    bad = {}
    for r in doc["warm"] + doc["timed"]:
        if not r["ok"]:
            bad.setdefault(r["name"], f"threw: {r['error']}")
    for name, verdict in doc["oracle"].items():
        if verdict != "ok" and name in queries:
            bad.setdefault(name, f"oracle: {verdict}")
    return bad


def summarize(doc, queries, trace):
    timed = doc["timed"]
    passes = len(doc["pass_wall_s"])
    bad = failures(doc, queries)
    failed = sum(1 for r in timed if not r["ok"] or r["name"] in bad)
    lat = [r["wall_s"] for r in timed if r["ok"] and r["name"] not in bad]
    tail_v, tail_pct, beyond = tail(lat)
    s = {
        "correct": not bad,
        "attempted": len(timed),
        "failed": failed,
        "failed_frac": failed / len(timed) if timed else 1.0,
        "failures": bad,
        "passes": passes,
        "samples": len(lat),
        "tail_pct": tail_pct,
        "tail_beyond": beyond,
        "setup_s": doc["setup_s"],
        "total_s": median(doc["pass_wall_s"]),
        "latency_p50_s": median(lat),
        "latency_tail_s": tail_v,
        "cpu_s": doc["timed_cpu_s"] / max(1, passes),
        "peak_rss_mb": doc["peak_rss_mb"],
        "peak_rss_reset": doc["peak_rss_reset"],
    }
    if trace:
        s.update(layers(doc, passes))
    return s


def layers(doc, passes):
    timed = doc["timed"]
    per = max(1, passes)

    def total(path):
        """Sum over the timed records of the field at `path`, e.g. exec/jobs."""
        return sum(functools.reduce(lambda v, k: v[k], path.split("/"), r) for r in timed)

    counted = {
        "build": ["jobs", "stages", "tasks", "task_cpu_s", "shuffle_write_bytes"],
        "exec": ["jobs", "stages", "tasks", "task_cpu_s", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes", "gc_s"],
        "plan": ["scans", "exchanges", "windows", "bnl_joins", "dup_subtrees"],
        "stream": ["commit_ms", "state_rows"],
    }
    m = {f"{layer}.{k}": total(f"{layer}/{k}") / per for layer, ks in counted.items() for k in ks}
    build_jobs, exec_s = total("build/jobs"), total("exec_s")
    batches = [ms for r in timed for ms in r["stream"]["batch_ms"]]
    m.update({
        "session.start_s": doc["session_start_s"],
        "store.bytes": doc["store_bytes"],
        "store.files": doc["store_files"],
        "store.timed_bytes_written": total("store_bytes_written") / per,
        "build.s": total("build_s") / per,
        "build.ms_per_job": 1000.0 * total("build_s") / build_jobs if build_jobs else 0.0,
        "plan.s": total("plan_s") / per,
        "exec.s": exec_s / per,
        "exec.core_util": total("exec/task_cpu_s") / (exec_s * doc["cores"]) if exec_s else 0.0,
        "stream.batches": len(batches) / per,
        "stream.batch_ms.p50": median(batches),
        "stream.batch_ms.tail": tail(batches)[0],
        "trace.unattributed_s": total("unattributed_s") / per,
    })
    return m


def result_line(s, trace):
    spec = PER_LAYER if trace else END_TO_END
    return {
        "correct": s["correct"],
        "attempted": s["attempted"],
        "failed": s["failed"],
        "metrics": {name: {"value": s[name], "unit": unit} for name, (unit, _) in spec.items()},
    }


def describe(workload, s, trace):
    """Human-readable lines: every metric of the run's kind by name with
    its unit, then failures."""
    lines = [f"{workload}  {name} = {s[name]:.6g} {unit}"
             for name, (unit, _) in (PER_LAYER if trace else END_TO_END).items()]
    lines.append(f"{workload}  failed_frac = {s['failed_frac']:.6g} ratio "
                 f"({s['failed']} of {s['attempted']} executions)")
    lines.append(f"{workload}  latency_tail_s is p{s['tail_pct']:.1f} of {s['samples']} samples "
                 f"({s['tail_beyond']} beyond); {s['passes']} timed passes")
    if not trace and not s["peak_rss_reset"]:
        lines.append(f"{workload}  peak_rss_mb includes setup: the kernel refused the VmHWM reset")
    for name, why in sorted(s["failures"].items()):
        lines.append(f"{workload}  FAILED {name}: {why}")
    return lines
