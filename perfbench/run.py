#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a source checkout. It builds the engine and the
harness (once per source state, with sbt, into the build directory:
$CARGO_TARGET_DIR if set, else .bench_build), runs the harness in one
JVM at local[cores], checks every op's output, and prints the metrics
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics of a traced run (see perfbench/README.md). The full result,
with every op's timing and the environment record, is written to
<build dir>/perfbench/results/.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no caches in the source tree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import reduce_trace  # noqa: E402

WORKLOADS = ["batch_mix", "ingest_stream"]
END_TO_END = {"pass_s": "s", "op_p50_s": "s", "setup_s": "s"}
RUN_LIMIT_S = 170
ORDERED_PASSES = 64  # seeded pass orders handed to the harness, reused cyclically
HEAP = "3g"  # fixed size, so heap growth does not vary from run to run
BUILD_LIMIT_S = 880
SOURCES = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
           "perfbench/project/build.properties", "perfbench/src"]
# the --add-opens of the engine's build.sbt: Spark on JDK 17 outside spark-submit
JVM_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, log, timeout, env=None):
    """Run `cmd` in its own process group with output to `log`; kill the
    whole group if it outlives `timeout`. Returns the exit code, or None
    on timeout."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def tail_of(log, n=40):
    with open(log) as f:
        return "".join(f.readlines()[-n:])


def build_root():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d, "perfbench")


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        p = os.path.join(ROOT, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs
            if f.endswith((".scala", ".sbt", ".properties", ".java")))
        for f in files:
            if "/target/" in f:
                continue
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath(bdir):
    """Build engine + harness if the sources changed; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(bdir, "classpath-" + stamp[:16])
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # the engine's build resolves offline from the local caches
        env["COURSIER_MODE"] = "offline"
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    log = os.path.join(bdir, "build.log")
    rc = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], HERE, log, BUILD_LIMIT_S, env)
    with open(log) as f:
        cps = [l for l in f.read().splitlines()
               if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write(tail_of(log))
        fail("build failed (log: %s)" % log)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    return cps[-1]


def load_ops(workload):
    with open(os.path.join(HERE, "workloads", workload + ".txt")) as f:
        return [l.strip() for l in f if l.strip()]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(cp, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the run writes only inside the checkout
    cmd = [java, "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Harness", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), ROOT, work, str(cores())]
    log = os.path.join(work, "harness.log")
    rc = run_group(cmd, work, log, deadline - time.monotonic())
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        sys.stderr.write(tail_of(log))
        fail("harness did not finish in time" if rc is None else
             "harness failed with exit code %d" % rc)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def pass_orders(ops, seed, passes=ORDERED_PASSES):
    """The warm-up order and then one order per timed pass: seeded
    permutations of the same op set."""
    rng = random.Random(seed)
    return [rng.sample(ops, len(ops)) for _ in range(1 + passes)]


def hd_quantile(xs, p, steps=4096):
    """Harrell-Davis estimate of the p-quantile: the mean of all order
    statistics weighted by a Beta((n+1)p, (n+1)(1-p)) density. On the
    few op latencies of one run it is far steadier than the single
    middle order statistic."""
    xs = sorted(xs)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    dens = [math.exp((a - 1) * math.log(t) + (b - 1) * math.log(1 - t))
            for t in ((k + 0.5) / steps for k in range(steps))]
    w = [sum(dens[i * steps // n:(i + 1) * steps // n]) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def tail(xs, beyond=10):
    """The highest percentile of `xs` with at least `beyond` samples above
    it: (value, percentile), or (None, None) with too few samples."""
    xs = sorted(xs)
    if len(xs) <= beyond:
        return None, None
    return xs[-beyond - 1], 100.0 * (len(xs) - beyond) / len(xs)


def end_to_end(result):
    """End-to-end metrics over the untraced timed passes. An op's latency
    is the mean over the passes it ran in (a batch query runs once a
    pass; a drop lands once)."""
    timed = [o for o in result["ops"] if not o["traced"] and o["ok"]]
    lat = {}
    for o in timed:
        lat.setdefault(o["name"], []).append(o["wall_s"])
    lat = [statistics.fmean(v) for v in lat.values()]
    passes = [p["wall_s"] for p in result["passes"] if not p["traced"]]
    metrics = {
        "pass_s": statistics.median(passes),
        "op_p50_s": hd_quantile(lat, 0.5),
        "setup_s": result["setup_s"],
    }
    # The tail is taken over every timed op run, not the per-op means,
    # and recorded beside the metrics, ungated: a run holds 6 to 13 op
    # runs a pass, so the percentile with ten beyond it sits low and
    # moves with which ops happen to sit there.
    tail_s, tail_pct = tail([o["wall_s"] for o in timed])
    extra = {"op_tail_s": tail_s, "op_tail_pct": tail_pct, "op_latencies": len(lat),
             "op_samples": len(timed), "passes": len(passes),
             "setup_parts_s": result["setup_parts_s"]}
    if result["check"]["kind"] == "ingest":
        # input rows published per second of op time: recorded, not gated,
        # as the rows of a pass are fixed and it only restates pass_s
        extra["rows_per_s"] = sum(o["rows"] for o in timed) / sum(o["wall_s"] for o in timed)
    return metrics, extra


def check_run(result, expected):
    """Failures by op (or by lake/rollup for the streaming workload);
    `expected` maps a batch op to its expected digest."""
    failures = {o["name"]: o["error"] for o in result["warm"] + result["ops"] if not o["ok"]}
    chk = result["check"]
    if chk["kind"] == "batch":
        for o in result["warm"]:
            exp = expected.get(o["name"])
            why = "no expected output recorded" if exp is None else \
                check.check_op(os.path.join(chk["dir"], o["name"]), exp)
            if o["ok"] and why:
                failures[o["name"]] = why
    else:
        if not chk["lake_ok"]:
            failures["lake"] = "published lake is not the last delivered version of each day"
        if not chk["rollup_ok"]:
            failures["rollup"] = "rollup differs from batch hourlyRollup over closed windows"
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("%s is missing: run from the root of a full source checkout" % need)

    bdir = build_root()
    os.makedirs(bdir, exist_ok=True)
    cp = classpath(bdir)
    deadline = time.monotonic() + RUN_LIMIT_S

    work = os.path.join(bdir, "work-%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload != "ingest_stream":
            ops = load_ops(args.workload)
            with open(os.path.join(work, "orders.txt"), "w") as f:
                f.writelines(",".join(o) + "\n" for o in pass_orders(ops, args.seed))
        result = run_harness(cp, args, work, deadline)
        expected = {} if args.workload == "ingest_stream" else \
            check.load_expected(os.path.join(HERE, "expected"), args.workload)
        failures = check_run(result, expected)
        everything = result["warm"] + result["ops"]
        attempted = len(everything)
        failed = sum(1 for o in everything if not o["ok"] or o["name"] in failures)
        if "lake" in failures or "rollup" in failures:
            failed += 1
        e2e, extra = end_to_end(result)
        extra["fail_frac"] = failed / attempted
        report = {"end_to_end": e2e, "end_to_end_extra": extra, "failures": failures,
                  "env": result["env"], "check": result["check"], "result": result}
        correct = not failures
        results = os.path.join(bdir, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace))
        if args.trace:
            shutil.copyfile(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
            layers, trace_report = reduce_trace.reduce(result, stem + ".spans.jsonl")
            report["per_layer"], report["trace"] = layers, trace_report
            reduce_trace.print_report(args.workload, layers, trace_report)
            correct = correct and trace_report["reconciled"]
            metrics = {k: {"value": v, "unit": reduce_trace.UNITS[k]} for k, v in layers.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        with open(stem + ".json", "w") as f:
            json.dump(report, f, indent=1)
        for name, why in sorted(failures.items()):
            print("FAILED %s: %s" % (name, why), file=sys.stderr)
        print("environment: " + json.dumps(result["env"], sort_keys=True))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
