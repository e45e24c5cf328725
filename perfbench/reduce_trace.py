#!/usr/bin/env python3
"""Reduce a traced run's spans to per-layer metrics.

    python3 perfbench/reduce_trace.py .bench_build/perfbench/results/<run>-trace1.json ...

(each traced result file has its spans beside it, as <run>-trace1.spans.jsonl).

The harness writes one span per line: op spans come from the client
(start, end, build/execute split, job groups), job/stage/plan/progress
spans from Spark's listeners. Jobs are tied to their op through the job
group the client set around the op's build and execute steps (streaming
jobs through the query run id); Catalyst planning spans by their start
time, since the client runs one op at a time.

Metrics are per traced pass (sums over the traced passes divided by
their number), except peaks and fractions. The reduction also gives the
self time of each layer along the blocking path (the client between
ops; each op's build and execute steps, split into driver time and
job-covered time), and checks the attribution: every traced op lies
inside its pass and after the op before it, every job lies inside the
op whose job group it carries, and no job is left without an op.
"""
import json
import statistics
import sys

MB = 1048576.0
UNITS = {
    "operators.build_s": "s", "operators.build_jobs": "count",
    "planner.analysis_s": "s", "planner.optimizer_s": "s", "planner.physical_s": "s",
    "driver.gap_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.failed_tasks": "count",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.busy_frac": "ratio", "executor.cpu_frac": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.write_s": "s",
    "memory.spill_mb": "MB", "memory.peak_exec_mb": "MB", "memory.heap_live_peak_mb": "MB",
    "memory.pinned_mb": "MB",
    "sources.input_mb": "MB", "sources.input_rows": "rows",
    "sink.output_mb": "MB", "sink.output_rows": "rows",
    "streaming.batches": "count", "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.get_batch_s": "s", "streaming.planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_rows": "rows", "streaming.state_mem_mb": "MB",
    "trace.overhead_frac": "ratio",
}
# clock slack for comparing listener times with client times (both ms)
SLACK_MS = 5


def load_spans(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def union(intervals):
    """Merged, sorted list of [start, end] intervals."""
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def gaps(lo, hi, merged):
    """Lengths of the stretches of [lo, hi] that no merged interval covers."""
    out, t = [], lo
    for s, e in merged:
        if s > t:
            out.append(s - t)
        t = max(t, e)
    if hi > t:
        out.append(hi - t)
    return out


def overhead(result):
    """Traced pass time over untraced pass time, minus 1: each traced
    pass against the mean of the untraced passes on either side of it
    (so the JIT warm-up trend cancels), median over traced passes."""
    walls = [(p["traced"], p["wall_s"]) for p in result["passes"]]
    ratios = [w / ((walls[i - 1][1] + walls[i + 1][1]) / 2)
              for i, (t, w) in enumerate(walls)
              if t and 0 < i < len(walls) - 1 and not walls[i - 1][0] and not walls[i + 1][0]]
    return statistics.median(ratios) - 1 if ratios else 0.0


def reduce(result, spans_path):
    spans = load_spans(spans_path)
    ops = [o for o in result["ops"] if o["traced"]]
    n_pass = max(1, len({o["pass"] for o in ops}))
    cores = result["env"]["cores"]
    owner = {}
    for o in ops:
        owner[o["id"] + "/build"] = (o, "build")
        owner[o["id"] + "/exec"] = (o, "exec")
        for r in o["run_ids"]:
            owner[r] = (o, "exec")

    jobs = [s for s in spans if s["kind"] == "job"]
    stages = {}
    for s in (s for s in spans if s["kind"] == "stage"):
        stages.setdefault(s["stage"], []).append(s)
    per_op = {o["id"]: [] for o in ops}
    orphans = []
    stage_seen = set()
    tot = dict.fromkeys(("build_jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ns",
                         "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
                         "shuffle_write_ns", "spill_disk_bytes", "input_bytes", "input_rows",
                         "output_bytes", "output_rows"), 0)
    peak_exec = 0
    for j in sorted(jobs, key=lambda j: j["start_ms"]):
        if j["group"] not in owner:
            orphans.append(j)
            continue
        o, step = owner[j["group"]]
        j["step"] = step
        per_op[o["id"]].append(j)
        if step == "build":
            tot["build_jobs"] += 1
        for sid in j["stages"]:
            if sid in stage_seen or sid not in stages:
                continue  # skipped (reused) stages never ran
            stage_seen.add(sid)
            for st in stages[sid]:
                tot["stages"] += 1
                for k in ("tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
                          "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
                          "shuffle_write_ns", "spill_disk_bytes", "input_bytes", "input_rows",
                          "output_bytes", "output_rows"):
                    tot[k] += st[k]
                peak_exec = max(peak_exec, st["peak_exec_bytes"])

    spans_by_time = sorted(ops, key=lambda o: o["start_ms"])
    plan = {"analysis_ms": 0, "optimization_ms": 0, "planning_ms": 0}
    for p in (s for s in spans if s["kind"] == "plan"):
        for o in spans_by_time:
            if o["start_ms"] - SLACK_MS <= p["start_ms"] <= o["end_ms"] + SLACK_MS:
                for k in plan:
                    plan[k] += p[k]
                break

    run_owner = {r: o for o in ops for r in o["run_ids"]}
    stream = {"batches": 0, "triggerExecution": 0, "addBatch": 0, "getBatch": 0,
              "queryPlanning": 0, "walCommit": 0}
    state_rows = state_mem = 0
    for p in (s for s in spans if s["kind"] == "progress"):
        if p["run_id"] not in run_owner:
            continue
        stream["batches"] += 1
        for k in ("triggerExecution", "addBatch", "getBatch", "queryPlanning", "walCommit"):
            stream[k] += p["duration_ms"].get(k, 0)
        state_rows = max(state_rows, p["state_rows"])
        state_mem = max(state_mem, p["state_mem_bytes"])

    # The client runs one op at a time, so every traced op must lie
    # inside its pass and after the op before it, and every job inside
    # the op whose group it carries. A job in no op's group is an orphan.
    bad = []
    passes = {p["pass"]: p for p in result["passes"] if p["traced"]}
    prev_end = None
    for o in sorted(ops, key=lambda o: (o["start_ms"], o["end_ms"])):
        p = passes.get(o["pass"])
        if p is None or o["start_ms"] < p["start_ms"] - SLACK_MS or \
                o["end_ms"] > p["end_ms"] + SLACK_MS:
            bad.append("%s outside its traced pass" % o["name"])
        if prev_end is not None and o["start_ms"] < prev_end - SLACK_MS:
            bad.append("%s overlaps the op before it" % o["name"])
        prev_end = o["end_ms"]
        for j in per_op[o["id"]]:
            if j["start_ms"] < o["start_ms"] - SLACK_MS or j["end_ms"] > o["end_ms"] + SLACK_MS:
                bad.append("%s job %d outside its op" % (o["name"], j["job"]))
    for j in orphans:
        bad.append("job %d in group %r has no op" % (j["job"], j["group"]))
    pass_ms = sum(p["end_ms"] - p["start_ms"] for p in passes.values())

    # blocking path: per op, the stretches with no job running are
    # driver time (planning happens there), the rest is job-covered,
    # split by the op's build and execute steps
    wall_ms = gap_ms = 0
    path = {"build.driver": 0, "build.jobs": 0, "execute.driver": 0, "execute.jobs": 0}
    for o in ops:
        lo, hi, mid = o["start_ms"], o["end_ms"], o["build_end_ms"]
        clip = [[max(lo, j["start_ms"]), min(hi, j["end_ms"])] for j in per_op[o["id"]]]
        merged = union([c for c in clip if c[1] >= c[0]])
        wall_ms += hi - lo
        gap_ms += sum(gaps(lo, hi, merged))
        for step, a, b in (("build", lo, mid), ("execute", mid, hi)):
            part = union([[max(a, s), min(b, e)] for s, e in merged if min(b, e) > max(a, s)])
            c = sum(e - s for s, e in part)
            path[step + ".jobs"] += c
            path[step + ".driver"] += (b - a) - c
    path["client.between_ops"] = pass_ms - wall_ms

    op_wall_s = sum(o["wall_s"] for o in ops)
    run_s = tot["run_ms"] / 1e3
    layers = {
        "operators.build_s": sum(o["build_s"] for o in ops) / n_pass,
        "operators.build_jobs": tot["build_jobs"] / n_pass,
        "planner.analysis_s": plan["analysis_ms"] / 1e3 / n_pass,
        "planner.optimizer_s": plan["optimization_ms"] / 1e3 / n_pass,
        "planner.physical_s": plan["planning_ms"] / 1e3 / n_pass,
        "driver.gap_s": gap_ms / 1e3 / n_pass,
        "scheduler.jobs": sum(len(v) for v in per_op.values()) / n_pass,
        "scheduler.stages": tot["stages"] / n_pass,
        "scheduler.tasks": tot["tasks"] / n_pass,
        "scheduler.failed_tasks": tot["failed_tasks"] / n_pass,
        "executor.run_s": run_s / n_pass,
        "executor.cpu_s": tot["cpu_ns"] / 1e9 / n_pass,
        "executor.gc_s": tot["gc_ms"] / 1e3 / n_pass,
        "executor.busy_frac": run_s / (op_wall_s * cores) if op_wall_s else 0.0,
        "executor.cpu_frac": tot["cpu_ns"] / 1e9 / run_s if run_s else 0.0,
        "shuffle.write_mb": tot["shuffle_write_bytes"] / MB / n_pass,
        "shuffle.read_mb": tot["shuffle_read_bytes"] / MB / n_pass,
        "shuffle.fetch_wait_s": tot["fetch_wait_ms"] / 1e3 / n_pass,
        "shuffle.write_s": tot["shuffle_write_ns"] / 1e9 / n_pass,
        "memory.spill_mb": tot["spill_disk_bytes"] / MB / n_pass,
        "memory.peak_exec_mb": peak_exec / MB,
        "memory.heap_live_peak_mb": result["heap_live_peak_bytes"] / MB,
        "memory.pinned_mb": result["pinned_peak_bytes"] / MB,
        "sources.input_mb": tot["input_bytes"] / MB / n_pass,
        "sources.input_rows": tot["input_rows"] / n_pass,
        "sink.output_mb": tot["output_bytes"] / MB / n_pass,
        "sink.output_rows": tot["output_rows"] / n_pass,
        "streaming.batches": stream["batches"] / n_pass,
        "streaming.trigger_s": stream["triggerExecution"] / 1e3 / n_pass,
        "streaming.add_batch_s": stream["addBatch"] / 1e3 / n_pass,
        "streaming.get_batch_s": stream["getBatch"] / 1e3 / n_pass,
        "streaming.planning_s": stream["queryPlanning"] / 1e3 / n_pass,
        "streaming.wal_commit_s": stream["walCommit"] / 1e3 / n_pass,
        "streaming.state_rows": state_rows,
        "streaming.state_mem_mb": state_mem / MB,
        "trace.overhead_frac": overhead(result),
    }
    report = {
        "traced_passes": n_pass, "traced_ops": len(ops),
        "blocking_path_s": {k: v / 1e3 / n_pass for k, v in path.items()},
        "pass_wall_ms": pass_ms, "op_wall_ms": wall_ms, "driver_gap_ms": gap_ms,
        "reconciled": not bad, "reconcile_errors": bad[:20],
    }
    return layers, report


def print_report(workload, layers, report):
    print("traced run of %s: %d passes, %d ops" % (workload, report["traced_passes"],
                                                     report["traced_ops"]))
    for k in sorted(layers):
        print("  %-26s %14.4f %s" % (k, layers[k], UNITS[k]))
    print("  self time along the blocking path, per pass:")
    for k, v in report["blocking_path_s"].items():
        print("    %-22s %10.4f s" % (k, v))
    print("  reconciliation (ops inside their pass, one at a time; jobs inside their op;"
          " no job without an op): %s" % (
              "ok" if report["reconciled"] else "FAILED " + "; ".join(report["reconcile_errors"])))


def main():
    for path in sys.argv[1:]:
        with open(path) as f:
            result = json.load(f)["result"]
        layers, report = reduce(result, path[:-len(".json")] + ".spans.jsonl")
        print_report(result["workload"], layers, report)


if __name__ == "__main__":
    main()
