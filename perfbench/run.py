#!/usr/bin/env python3
"""Layered benchmark for the graft engine.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run builds the engine and the
harness if their sources changed, prepares the workload's inputs from
the seed, runs the harness JVM (setup pass, then the timed passes that
fill `--seconds`), checks every query's output against its DuckDB oracle
twin, and prints one JSON object as the last line of stdout. With
`--trace 0` it carries the end-to-end metrics, with `--trace 1` the
per-layer metrics. Human-readable lines go to stderr.

    python3 perfbench/run.py --report [--seed N] [--seconds S]

runs every workload untraced and traced and prints every metric by
name with its unit, the tracing overhead and any failed query.
See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

import metrics  # noqa: E402
import workloads  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
ENGINE_MARKERS = [ROOT / "build.sbt", ROOT / "src/main/scala/graft/SparkEntry.scala",
                  ROOT / "tools/compare_strict.py"]
THROWING_QUERY = "perfbench_throws"  # perfbench.Harness.ThrowingQuery
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return max(1, min(4, os.cpu_count() or 1))


# ------------------------------------------------------------------ build
def build():
    """Compiles engine + harness with sbt when their sources changed and
    returns the runtime classpath."""
    stamp_file = WORK / "build.json"
    stamp = workloads.source_stamp(ROOT, HERE)
    if stamp_file.exists():
        cached = json.loads(stamp_file.read_text())
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    boot = Path.home() / ".sbt" / "boot"
    props = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
             f"-Dsbt.global.base={WORK / 'sbt-global'}"]
    if boot.is_dir():
        props.append(f"-Dsbt.boot.directory={boot}")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        props += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] = " ".join(props + ["-Xmx2g"])
    # Every JVM the launcher script starts, its `java -version` probe too,
    # keeps its temp and perf-data files inside the checkout.
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    out = subprocess.run(["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                         capture_output=True, text=True, timeout=840)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    cp = [ln for ln in out.stdout.splitlines() if "scala-library" in ln and ":" in ln][-1].strip()
    stamp_file.write_text(json.dumps({"stamp": stamp, "classpath": cp}))
    return cp


# -------------------------------------------------------------- one run
def passes(wl, seconds):
    """Timed passes that fill `seconds` at the workload's nominal pass time
    (4 cores, sf0.1). A fixed count per setting keeps the sample count, and
    with it the tail percentile, the same in every run."""
    return max(1, round(seconds / wl["pass_s"]))


def run_harness(classpath, wl, queries, seed, seconds, trace, run_dir, timeout):
    """Prepares inputs, runs the harness JVM, returns its output doc."""
    if run_dir.exists():
        shutil.rmtree(run_dir)
    data, dump, scratch, tmp = (run_dir / d for d in ("data", "dump", "scratch", "tmp"))
    for d in (data, dump, scratch, tmp):
        d.mkdir(parents=True)
    k = cores()
    oracle_data = workloads.prepare_data(wl, seed, data, k)
    out = run_dir / "harness.json"
    env = dict(os.environ)
    env["SPARK_GRAFT_SCRATCH"] = str(scratch)
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}", "-Dlog4j2.level=ERROR"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness",
            "--queries", ",".join(queries), "--data", str(data), "--dump", str(dump),
            "--passes", str(passes(wl, seconds)), "--seed", str(seed), "--trace", str(trace),
            "--cores", str(k), "--warehouse", str(run_dir / "warehouse"),
            "--scratch", str(scratch), "--out", str(out)]
    launch = time.time()
    cmd += ["--launch-ms", repr(launch * 1000.0)]
    proc = subprocess.run(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=timeout)
    if proc.returncode != 0 or not out.exists():
        sys.stderr.write(proc.stderr[-6000:])
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
    doc = json.loads(out.read_text())
    doc["harness_s"] = time.time() - launch
    doc["oracle"] = oracle_check(oracle_data, dump, queries)
    doc["oracle_s"] = time.time() - launch - doc["harness_s"]
    return doc


def oracle_check(data, dump, names):
    """Runs the repository's strict comparison (tools/compare_strict.py,
    unmodified) over the setup pass's dump; returns {query: "ok" | why}."""
    sys.path.insert(0, str(ROOT / "tools"))
    import compare_strict
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        compare_strict.main(str(data), str(dump), set(names))
    verdict = {}
    for line in out.getvalue().splitlines():
        if line.startswith("ok   "):
            verdict[line[5:].split(":")[0]] = "ok"
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            verdict[name] = why[:300]
    for name in json.loads((dump / "oracle_sql.json").read_text()):
        verdict.setdefault(name, "oracle check produced no verdict")
    return verdict


def one_run(wl_name, seed, seconds, trace):
    wl = workloads.WORKLOADS[wl_name]
    queries = wl["queries"]
    t0 = time.time()
    classpath = build()
    t1 = time.time()
    name = f"{wl_name}-s{seed}-t{trace}"
    run_dir = WORK / "runs" / name
    doc = run_harness(classpath, wl, queries, seed, seconds, trace, run_dir, timeout=170)
    summary = metrics.summarize(doc, queries, trace)
    log(f"{name}: build check {t1 - t0:.1f} s, harness {doc['harness_s']:.1f} s, "
        f"oracle check {doc['oracle_s']:.1f} s")
    # The run's artifacts: the summary, and one record per timed query
    # execution (with --trace 1: its layer split, job/stage/task counts,
    # plan shape and stream batches).
    (WORK / "runs" / f"{name}.summary.json").write_text(json.dumps(summary, indent=1))
    (WORK / "runs" / f"{name}.trace.jsonl").write_text(
        "".join(json.dumps(r) + "\n" for r in doc["timed"]))
    shutil.rmtree(run_dir, ignore_errors=True)
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true",
                    help="run every workload untraced and traced, print all metrics")
    args = ap.parse_args()
    missing = [str(p.relative_to(ROOT)) for p in ENGINE_MARKERS if not p.exists()]
    if missing:
        raise SystemExit(f"perfbench: not a graft checkout (missing {', '.join(missing)})")
    if args.report:
        report(args.seed, args.seconds)
        return
    if not args.workload:
        ap.error("--workload is required")
    s = one_run(args.workload, args.seed, args.seconds, args.trace)
    for line in metrics.describe(args.workload, s, args.trace):
        log(line)
    print(json.dumps(metrics.result_line(s, args.trace)))


def report(seed, seconds):
    for name in sorted(workloads.WORKLOADS):
        untraced = one_run(name, seed, seconds, 0)
        traced = one_run(name, seed, seconds, 1)
        for line in metrics.describe(name, untraced, 0) + metrics.describe(name, traced, 1):
            print(line)
        over = traced["total_s"] - untraced["total_s"]
        print(f"{name}  trace.overhead_s = {over:.4f} s "
              f"(traced total_s {traced['total_s']:.4f} - untraced {untraced['total_s']:.4f})")


if __name__ == "__main__":
    main()
