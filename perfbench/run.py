#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):
  python3 perfbench/run.py --workload <mr_mod100|analytic_warm>
      --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness (perfbench/build.py), generates the
workload's inputs from the seed, runs one JVM for the workload, checks
its outputs and prints one JSON line: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics. A traced run also writes
one record per query or MapReduce call to
.bench_work/trace_<workload>.jsonl. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import expected  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("mr_mod100", "analytic_warm")
PANEL_SF = 0.01
CORES = 2
HEAP = "2g"
RUN_LIMIT_S = 170
# JIT per workload: the panel runs a code surface that tiered C2 is still
# compiling after 45 s (process CPU per pass halves over 13 passes), so it
# runs on C1 alone; the MapReduce loop settles under C2 in its set-ups.
# C1 alone shrinks the default code cache to 48 MB, which the panel fills
# about 35 s into a run; the flush that follows deoptimizes tens of
# thousands of methods and doubles process CPU for the next passes, so
# the panel keeps the tiered default of 240 MB
JIT = {"mr_mod100": [],
       "analytic_warm": ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s",
              "shuffle_mb": "MB", "scan_mb": "MB", "heap_mb": "MB"}
# per-layer metric -> unit; each is summed over a pass's operations and
# reported as the median over the timed passes unless noted in layers()
PER_LAYER = {
    "core.hash_job_s": "s", "core.combine_job_s": "s", "core.order_job_s": "s",
    "core.spark_jobs_per_call": "count", "core.task_s": "s",
    "core.shuffle_write_mb": "MB", "core.state_poll_ms": "ms",
    "core.state_polls": "count",
    "tables.ingest_s": "s", "tables.ingest_write_mb": "MB",
    "ops.build_s": "s", "ops.build_jobs": "count",
    "artifacts.cached_mb": "MB", "artifacts.persistent_rdds": "count",
    "plans.plan_s": "s", "plans.exchanges": "count", "plans.sorts": "count",
    "plans.smj": "count", "plans.shj": "count", "plans.bhj": "count",
    "exec.execute_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.scan_mb": "MB",
    "trace.pass_s": "s"}
MR_PATHS = {"hash": "core.hash_job_s", "combine": "core.combine_job_s",
            "order": "core.order_job_s"}


def jvm(classes, opts, log, limit):
    jars = os.path.join(build.SPARK_JARS, "*")
    tmp = opts["tmp"]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + JIT[opts["workload"]] + [
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.tmp={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}", "perfbench.Main"]
    for k, v in opts.items():
        if k != "tmp":
            cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=opts["local"])
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env)
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            return None
        finally:
            # also on SIGTERM (see main): never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()


def median(xs):
    return statistics.median(xs) if xs else None


def low(xs):
    """Lower quartile: a time as the host gives it when not busy."""
    return statistics.quantiles(xs, n=4)[0] if len(xs) > 1 else xs[0]


def passes(ops, kind="timed"):
    """Passes of one kind (setup, warmup or timed), each a list of its
    operations."""
    by = {}
    for o in ops:
        if o["kind"] == kind:
            by.setdefault(o["pass"], []).append(o)
    return [by[k] for k in sorted(by)]


def fast_pass(ops, key):
    """One pass at each operation's lower-quartile `key` over the timed
    passes; None when some operation never succeeded."""
    by = {}
    for o in ops:
        if o["kind"] == "timed":
            by.setdefault(o["op"], []).append(o)
    vals = [[o[key] for o in group if o["use"]] for group in by.values()]
    if not vals or not all(vals):
        return None
    return sum(low(v) for v in vals)


def end_to_end(ops, result):
    ps = passes(ops)
    def per_pass(key):
        return median([sum(o[key] for o in p) for p in ps
                       if all(o["use"] for o in p)])
    return {"setup_s": median(result["setup_s"]),
            "pass_s": fast_pass(ops, "wall_s"),
            "cpu_s": fast_pass(ops, "cpu_s"),
            "shuffle_mb": per_pass("shuffle_mb"),
            "scan_mb": per_pass("scan_mb"), "heap_mb": result["heap_mb"]}


def layers(ops):
    """Per-layer metrics from the traced run's operation records; a layer
    the workload does not exercise reads 0."""
    ps = passes(ops)
    out = {}
    def median(xs):
        return statistics.median(xs) if xs else 0.0
    def per_pass(name, key, pred, ps=ps):
        out[name] = median([sum(o.get(key, 0) for o in p if o["use"] and pred(o))
                            for p in ps])
    mr = [o for p in ps for o in p if o["op"] in MR_PATHS and o["use"]]
    for path, name in MR_PATHS.items():
        out[name] = median([o["wall_s"] for o in mr if o["op"] == path])
    out["core.spark_jobs_per_call"] = (
        sum(o["core.jobs"] for o in mr) / len(mr) if mr else 0.0)
    out["core.state_poll_ms"] = median([o["core.state_poll_ms"] for o in mr])
    is_mr = lambda o: o["op"] in MR_PATHS
    for k in ("task_s", "shuffle_write_mb", "state_polls"):
        per_pass("core." + k, "core." + k, is_mr)
    # a new session's table loads, which run the re-layout, are set-up work
    is_ingest = lambda o: o["op"] == "tables.ingest"
    per_pass("tables.ingest_s", "wall_s", is_ingest, passes(ops, "setup"))
    per_pass("tables.ingest_write_mb", "tables.ingest_write_mb", is_ingest,
             passes(ops, "setup"))
    is_query = lambda o: o["op"].startswith("q_")
    for k in ("ops.build_s", "ops.build_jobs", "plans.plan_s",
              "plans.exchanges", "plans.sorts", "plans.smj", "plans.shj",
              "plans.bhj"):
        per_pass(k, k, is_query)
    # resident state after each pass's last query
    for k in ("artifacts.cached_mb", "artifacts.persistent_rdds"):
        out[k] = median([[o[k] for o in p if is_query(o)][-1] for p in ps
                         if any(is_query(o) for o in p)])
    # execution: the noop-sink action of a query, or the whole MR call
    for k in ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "scan_mb"):
        out["exec." + k] = median([
            sum(o.get("exec." + k, o.get("core." + k, 0)) for o in p
                if o["use"] and not is_ingest(o)) for p in ps])
    out["exec.execute_s"] = median([
        sum(o.get("exec.execute_s", o["wall_s"]) for o in p
            if o["use"] and not is_ingest(o)) for p in ps])
    out["trace.pass_s"] = fast_pass(ops, "wall_s")
    return {k: out.get(k, 0.0) for k in PER_LAYER}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classes = build.classpath()
    # the limit starts after the build, which only a checkout's first run pays
    t_start = time.time()
    bench = os.path.abspath(".bench_work")
    work = os.path.join(bench, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in ("data", "local", "outputs", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    panel = a.workload != "mr_mod100"
    if panel:
        gen.write(dirs["data"], a.seed, PANEL_SF)
    cores = max(1, min(CORES, os.cpu_count() or 1))
    result_file = os.path.join(work, "result.json")
    log = os.path.join(bench, f"{a.workload}.log")
    try:
        rc = jvm(classes, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": cores, "data": dirs["data"],
            "local": dirs["local"], "outputs": dirs["outputs"],
            "out": result_file, "tmp": dirs["tmp"]},
            log, RUN_LIMIT_S - (time.time() - t_start))
        if rc != 0 or not os.path.isfile(result_file):
            with open(log) as f:
                sys.stderr.write(f.read()[-3000:])
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(result_file) as f:
            result = json.load(f)
        shutil.copy(result_file, os.path.join(bench, f"result_{a.workload}.json"))
        ops = result["ops"]
        bad = dict(result.get("output_errors", {}))
        if panel:
            verdicts = expected.check(dirs["data"], dirs["outputs"])
            for q in result["queries"]:
                v = verdicts.get(q, "NO_ORACLE")
                if not v.startswith("MATCH"):
                    bad.setdefault(q, v)
        for q, why in sorted(bad.items()):
            sys.stderr.write(f"check failed: {q}: {why}\n")
        for o in ops:
            o["kind"] = ("setup" if o["pass"] < 0 else
                         "warmup" if o["pass"] < result["warmups"] else "timed")
            o["failed"] = o["counted"] and (not o["ok"] or o["op"] in bad)
            o["use"] = not o["failed"]
            if o["error"]:
                sys.stderr.write(f"operation failed: {o['op']}: {o['error']}\n")
        counted = [o for o in ops if o["counted"]]
        failed = sum(o["failed"] for o in counted)
        # a wrong or unchecked output makes the whole run incorrect
        correct = failed == 0 and not bad
        if a.trace:
            metrics = {k: (v, PER_LAYER[k]) for k, v in layers(ops).items()}
            with open(os.path.join(bench, f"trace_{a.workload}.jsonl"), "w") as f:
                f.write(json.dumps({
                    "workload": a.workload, "seed": a.seed, "cores": cores,
                    "shuffle_partitions": result["shuffle_partitions"],
                    "panel_sf": PANEL_SF if panel else None,
                    "heap": HEAP, "passes": len(passes(ops)),
                    "session_up_s": result["session_up_s"],
                    "setup_s": result["setup_s"]}) + "\n")
                for o in ops:
                    f.write(json.dumps(o) + "\n")
        else:
            metrics = {k: (v, END_TO_END[k])
                       for k, v in end_to_end(ops, result).items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": len(counted), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
