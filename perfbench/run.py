"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source (sbt, cached under perfbench/.build until a source changes),
generates the workload's inputs from the seed, runs the harness in one JVM
on local[k] (k = min(4, cpus)), checks the outputs, and prints one JSON
object as the last line of standard output.

--trace 0 reports the end-to-end metrics. --trace 1 alternates untraced and
traced operations in one process and reports the per-layer metrics from
the traced ones; the per-layer values are means per call of the span.

Exit status is 0 only when every operation succeeded and every check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

SPANS = [
    "io.Sources.readCsv",
    "io.Sources.readParquet",
    "pipeline.Transform.runReleasable",
    "ops.Crosstab.crosstab",
    "ops.MultiDim.multiDimTabulation",
    "bht.Kpis",
    "io.Sinks.writeJsonBundle",
    "io.Sinks.writeExcel",
    "io.Sinks.writeParquet",
    "scale.TextAnalysis.cleanCorpus",
    "scale.Curation.curateCleaned",
    "scale.Dedup.deduplicate",
]
SPAN_FIELDS = [("wall_s", "s"), ("jobs", "count"), ("task_s", "s"), ("driver_s", "s"),
               ("shuffle_mb", "MiB"), ("spill_mb", "MiB"), ("scan_mb", "MiB")]
SETUPS = 3
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 870
# A fixed heap: with a growing one, operation times split into two groups
# 20-25% apart from one JVM to the next; fixing it removed the split. The
# add-opens are what spark-submit passes on JDK 17.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Dspark.ui.enabled=false"] + [
    opt for pkg in [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar"]
    for opt in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edited source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(deadline):
    """Builds engine + harness with sbt; returns (runtime classpath, built now)."""
    build = os.path.join(HERE, ".build")
    stamp_file, cp_file = os.path.join(build, "stamp"), os.path.join(build, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    os.makedirs(build, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(build, "sbt.log")
    with open(log, "w") as out:
        # own process group: the sbt launcher script runs the build JVM as a
        # child, and a timeout must stop both
        proc = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=max(60, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build timed out; see {log}")
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        with open(log, "a") as out:
            out.write(stdout)
        fail(f"build failed (exit {proc.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, ops):
    """The metrics a user sees, from the untraced operations. Throughput is
    taken at the median operation, so one slow operation in a short run
    does not move it."""
    ms = [o["ms"] for o in ops if o["ok"] and not o["traced"]]
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "items_per_s": (res["items_per_op"] * 1e3 / median(ms) if ms else 0.0, "1/s"),
        "op_p50_ms": (median(ms), "ms"),
        "live_heap_mb": (res["live_heap_mb"], "MiB"),
    }


def per_layer(res, ops):
    """Per-call span means from the traced operations, plus engine totals."""
    metrics = {}
    traced = [o for o in ops if o["ok"] and o["traced"]]
    untraced = [o for o in ops if o["ok"] and not o["traced"]]
    for name in SPANS:
        calls = [s for s in res["spans"] if s["name"] == name]
        n = len(calls) or 1
        sums = {
            "wall_s": sum(s["wall_s"] for s in calls),
            "jobs": sum(s["jobs"] for s in calls),
            "task_s": sum(s["task_s"] for s in calls),
            "driver_s": sum(s["wall_s"] - s["covered_s"] for s in calls),
            "shuffle_mb": sum(s["shuffle_bytes"] for s in calls) / 2**20,
            "spill_mb": sum(s["spill_bytes"] for s in calls) / 2**20,
            "scan_mb": sum(s["scan_bytes"] for s in calls) / 2**20,
        }
        for field, unit in SPAN_FIELDS:
            metrics[f"{name}.{field}"] = (sums[field] / n, unit)
    per_op = len(traced) or 1
    metrics["spark.gc_s"] = (res["traced_gc_s"] / per_op, "s")
    metrics["spark.stages"] = (res["traced_stages"] / per_op, "count")
    metrics["spark.failed_tasks"] = (res["traced_failed_tasks"], "count")
    metrics["spark.jobs"] = (res["traced_jobs"] / per_op, "count")
    metrics["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MiB")
    metrics["trace.overhead_ms"] = (
        median([o["ms"] for o in traced]) - median([o["ms"] for o in untraced]), "ms")
    return metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"engine sources not found next to {HERE}: run from a full checkout")
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f).get(args.workload)
    if spec is None:
        fail(f"unknown workload {args.workload!r}")

    import check
    import gen

    cp, built = classpath(start + BUILD_LIMIT_S)
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in ("in", "warm", "out", "local")}
    for d in dirs.values():
        os.makedirs(d)
    os.makedirs(os.path.join(dirs["local"], "tmp"))
    gen.generate(spec["generator"], spec["inputs"], dirs["in"], args.seed)
    gen.generate(spec["generator"], dict(spec["inputs"], **spec["warmup_inputs"]),
                 dirs["warm"], args.seed, stream=1)
    params = dict(spec["inputs"], **spec["harness"], seed=args.seed)
    params_file = os.path.join(work, "params.json")
    with open(params_file, "w") as f:
        json.dump(params, f)

    cores = min(4, len(os.sched_getaffinity(0)))
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={dirs['local']}/tmp", "-cp", cp,
                                 "perfbench.Harness",
                                 "--workload", args.workload, "--params", params_file,
                                 "--in", dirs["in"], "--warm", dirs["warm"], "--out", dirs["out"],
                                 "--local", dirs["local"], "--seconds", str(args.seconds),
                                 "--trace", str(args.trace), "--cores", str(cores),
                                 "--setups", str(SETUPS)]
    log = os.path.join(work, "harness.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                                  timeout=max(30, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"harness timed out; see {log}")
    result_file = os.path.join(dirs["out"], "result.json")
    if not os.path.exists(result_file):
        fail(f"harness exited {proc.returncode} without a result; see {log}")
    with open(result_file) as f:
        res = json.load(f)
    ops = res["ops"]
    failed = sum(1 for o in ops if not o["ok"])

    errors = check.run(args.workload, dirs["in"], dirs["out"], params, dirs["local"])
    for e in errors:
        print(f"[perfbench] CHECK FAILED: {e}", file=sys.stderr)
    if failed:
        print(f"[perfbench] {failed} of {len(ops)} operations failed; see {log}", file=sys.stderr)

    metrics = per_layer(res, ops) if args.trace else end_to_end(res, ops)
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    correct = not errors and failed == 0 and proc.returncode == 0
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
