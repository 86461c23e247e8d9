#!/usr/bin/env python3
"""Pipeline benchmark: seeded workloads run through the product's public
entry points (`PipelineBuilder.fromFile` -> `PipelineRunner.run`).

    python3 perfbench/run.py --workload etl_small --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It builds the program from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs one JVM with a `local[nproc]` Spark session
(perfbench/scala), checks every output with DuckDB or the planted ground
truth (perfbench/check.py), prints one line per metric and, last, one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones from a traced phase (Spark listener buses plus timing around each
module's public calls) and the tracing overhead.  NOTES.md says what each
metric means and which workload should move it.
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
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# Per workload: what one operation is, how many warm-up rounds bring the
# JVM near steady state, the fewest timed rounds (a slow host phase then
# stretches the run instead of shrinking the sample), and how many rounds
# the traced phase runs (a fixed amount of work, so its counts repeat for
# a seed).
WORKLOADS = {
    "etl_small": {"op": "pipeline", "warm_rounds": 1, "min_rounds": 2, "trace_rounds": 2},
    "etl_bulk": {"op": "pipeline", "warm_rounds": 2, "min_rounds": 2, "trace_rounds": 1},
    "corpus_dedup": {"op": "microbatch", "warm_rounds": 1, "min_rounds": 1, "trace_rounds": 1},
    "stream_sessions": {"op": "microbatch", "warm_rounds": 2, "min_rounds": 2, "trace_rounds": 1},
}
END_TO_END = {
    "setup_s": "s", "makespan_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "pipeline.build_ms": "ms",
    "core.run_ms": "ms", "core.cached_rdds": "count", "core.cached_peak_mb": "MB",
    "source.action_ms": "ms", "sql.action_ms": "ms", "validation.action_ms": "ms",
    "sink.action_ms": "ms", "ml.action_ms": "ms", "streaming.action_ms": "ms",
    "ml.resolve_build_ms": "ms", "ml.resolve_update_ms": "ms", "ml.stream_gate_ms": "ms",
    "spark.analysis_ms": "ms", "spark.optimizer_ms": "ms", "spark.planning_ms": "ms",
    "spark.codegen_compiles": "count", "spark.codegen_ms": "ms", "spark.sql_executions": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_busy_ms": "ms", "spark.driver_only_ms": "ms",
    "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.core_util": "ratio", "spark.stage_skew": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.peak_exec_mem_mb": "MB", "spark.input_mb": "MB", "spark.output_mb": "MB",
    "spark.failed_tasks": "count",
    "sink.output_files": "count", "sink.output_mb": "MB",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.offset_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mb": "MB", "streaming.state_commit_ms": "ms",
    "trace.overhead_s": "s",
    "self.workload_ms": "ms", "self.build_ms": "ms",
    "self.run_ms": "ms", "self.action_ms": "ms", "self.microbatch_ms": "ms",
    "self.sql_ms": "ms", "self.job_ms": "ms",
}
# Only stream_sessions has a state store, and BENCHMARK.json leaves it out:
# these are printed on every traced run but reported on that workload alone.
STATE_STORE = ("streaming.state_rows", "streaming.state_mb", "streaming.state_commit_ms")
# Counts seen to differ between traced runs of one seed, and why.
UNSTABLE_COUNTS = [
    (("spark.codegen_compiles",),
     "the codegen cache is JVM-wide and bounded, and which classes earlier instances "
     "left in it depends on task-thread timing (etl_small seed 3: 145 to 147 compiles; "
     "corpus_dedup seed 1: 672 to 696)"),
    (("spark.jobs", "spark.stages", "spark.tasks"),
     "on corpus_dedup one or two one-task jobs appear in some traced runs of a seed and "
     "not in others (seed 1: 274 to 275 jobs, 734 to 735 tasks); their source in the "
     "dedup lifecycle is not identified"),
]
# A fixed heap (-Xms = -Xmx) keeps peak RSS from following the collector's
# heap-sizing decisions run to run.
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 160
# dedup actions of templates/corpus_dedup.yaml, by action name
ML_ACTIONS = {"resolve_build": "ml.resolve_build_ms", "resolve_update": "ml.resolve_update_ms",
              "stream_gate": "ml.stream_gate_ms"}


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def p90(xs):
    """90th percentile, interpolated between closest ranks: with few
    samples from a mix of pipelines it moves smoothly instead of jumping
    from one pipeline kind to the next."""
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


def cpu_times():
    """(steal, total) jiffies of the host's CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def instances(phase):
    return [i for r in phase["rounds"] for i in r["instances"]]


def round_seconds(phase):
    return [(r["end_ms"] - r["start_ms"]) / 1000.0 for r in phase["rounds"]]


def batches(record, phase):
    return [b for b in record["microbatches"] if b["phase"] == phase]


def batch_ms(b):
    return b["durations"].get("triggerExecution", 0)


# --------------------------------------------------------------------------
# end-to-end metrics


def end_to_end(workload, record, gen_s, popen_ms):
    boot_s = (record["session_epoch_ms"] - popen_ms) / 1000.0
    warm = (record["warm"]["end_ms"] - record["warm"]["start_ms"]) / 1000.0
    timed = record["timed"]
    if WORKLOADS[workload]["op"] == "pipeline":
        ops = [i["end_ms"] - i["start_ms"] for i in instances(timed) if i["status"] == "ok"]
    else:
        ops = [batch_ms(b) for b in batches(record, "timed")]
    return {
        "setup_s": gen_s + boot_s + warm,
        "makespan_s": statistics.median(round_seconds(timed)),
        "op_p50_ms": float(statistics.median(ops)) if ops else 0.0,
        "op_p90_ms": float(p90(ops)) if ops else 0.0,
        "peak_rss_mb": record["peak_rss_mb"],
    }, len(ops)


# --------------------------------------------------------------------------
# per-layer metrics (traced phase)

LEVELS = ["workload", "pipeline", "build", "run", "action", "microbatch", "sql", "job"]


def spans_of(record):
    """The traced phase as spans: the harness's own (workload, pipeline
    instance, build, run, actions laid end to end inside run, since the
    runner reports durations only) plus micro-batches, SQL executions and
    jobs from the listener buses.  Parents by time containment."""
    tr = record["traced"]
    spans = [{"kind": "workload", "name": "traced", "start_ms": tr["start_ms"], "end_ms": tr["end_ms"]}]
    for i in instances(tr):
        spans.append({"kind": "pipeline", "name": i["req"], "start_ms": i["start_ms"], "end_ms": i["end_ms"]})
        spans.append({"kind": "build", "name": i["req"], "start_ms": i["start_ms"], "end_ms": i["built_ms"]})
        spans.append({"kind": "run", "name": i["req"], "start_ms": i["built_ms"], "end_ms": i["end_ms"]})
        t = i["built_ms"]
        for a in i["actions"]:
            spans.append({"kind": "action", "name": f"{i['req']}/{a['job']}/{a['action']}",
                          "start_ms": t, "end_ms": t + a["ms"]})
            t += a["ms"]
    for b in batches(record, "traced"):
        spans.append({"kind": "microbatch", "name": f"{b['query'][:8]}/{b['batch']}",
                      "start_ms": b["start_ms"], "end_ms": b["start_ms"] + batch_ms(b)})
    spans += record["spans"]
    spans.sort(key=lambda s: (s["start_ms"], -s["end_ms"], LEVELS.index(s["kind"])))
    for n, s in enumerate(spans):
        s["id"] = n
        s["parent"] = None
    for s in spans:
        lvl = LEVELS.index(s["kind"])
        best = None
        for p in spans:
            pl = LEVELS.index(p["kind"])
            if pl < lvl and p["start_ms"] <= s["start_ms"] and s["end_ms"] <= p["end_ms"]:
                if best is None or pl > LEVELS.index(best["kind"]) or (
                        pl == LEVELS.index(best["kind"]) and
                        p["end_ms"] - p["start_ms"] < best["end_ms"] - best["start_ms"]):
                    best = p
        s["parent"] = best["id"] if best else None
    return spans


def union_ms(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {k: 0.0 for k in LEVELS}
    for s in spans:
        out[s["kind"]] += (s["end_ms"] - s["start_ms"]) - union_ms(children.get(s["id"], []))
    return out


def action_metric(actor_class):
    """`<module>.action_ms` for an actor class `graft.<module>.<Name>`;
    the stateful transformer (`graft.transform`) counts as streaming."""
    parts = actor_class.split(".")
    module = parts[1] if len(parts) > 2 else ""
    key = f"{'streaming' if module == 'transform' else module}.action_ms"
    return key if key in PER_LAYER else None


def per_layer(record, e2e, cores):
    tr = record["traced"]
    c = record["counters"]
    m = {k: 0.0 for k in PER_LAYER}
    wall = tr["end_ms"] - tr["start_ms"]
    for i in instances(tr):
        m["pipeline.build_ms"] += i["built_ms"] - i["start_ms"]
        run = i["end_ms"] - i["built_ms"]
        m["core.run_ms"] += run - sum(a["ms"] for a in i["actions"])
        for a in i["actions"]:
            key = action_metric(a["actor"])
            if key:
                m[key] += a["ms"]
            if a["action"] in ML_ACTIONS:
                m[ML_ACTIONS[a["action"]]] += a["ms"]
        m["sink.output_files"] += i["output"]["files"]
        m["sink.output_mb"] += i["output"]["bytes"] / 1048576.0
    m["core.cached_rdds"] = c.get("cached_rdds", 0)
    m["core.cached_peak_mb"] = c.get("cached_peak_mb", 0)
    m["spark.analysis_ms"] = c.get("planning_analysis", 0)
    m["spark.optimizer_ms"] = c.get("planning_optimization", 0)
    m["spark.planning_ms"] = c.get("planning_planning", 0)
    m["spark.codegen_compiles"] = c["codegen_compiles"]
    m["spark.codegen_ms"] = c["codegen_ms"]
    m["spark.gc_ms"] = c["gc_ms"]
    for k in ("sql_executions", "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "peak_exec_mem_mb",
              "input_mb", "output_mb", "failed_tasks", "stage_skew"):
        m[f"spark.{k}"] = c.get(k, 0)
    spans = spans_of(record)
    jobs = [(s["start_ms"], s["end_ms"]) for s in spans if s["kind"] == "job"]
    m["spark.job_busy_ms"] = union_ms(jobs)
    m["spark.driver_only_ms"] = wall - m["spark.job_busy_ms"]
    m["spark.core_util"] = m["spark.task_run_ms"] / (cores * wall) if wall > 0 else 0.0
    tb = batches(record, "traced")
    m["streaming.batches"] = len(tb)
    for b in tb:
        d = b["durations"]
        m["streaming.input_rows"] += b["rows"]
        m["streaming.add_batch_ms"] += d.get("addBatch", 0)
        m["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
        m["streaming.offset_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
        m["streaming.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        for s in b["state"]:
            m["streaming.state_rows"] = max(m["streaming.state_rows"], s["rows"])
            m["streaming.state_mb"] = max(m["streaming.state_mb"], s["bytes"] / 1048576.0)
            m["streaming.state_commit_ms"] += s["commit_ms"]
    traced_makespan = statistics.median(round_seconds(tr))
    m["trace.overhead_s"] = traced_makespan - e2e["makespan_s"]
    for k, v in self_times(spans).items():
        if f"self.{k}_ms" in m:
            m[f"self.{k}_ms"] = v
    return m, spans


# --------------------------------------------------------------------------


def ran_instances(record):
    return [i for p in ("warm", "timed", "traced") if p in record for i in instances(record[p])]


def tally(record, checks, n_ops, layer=None):
    """(attempted, failed) operations: pipeline instances, micro-batches
    and output checks, plus Spark tasks in a traced run.  A timed phase
    without a single latency sample counts as one more failure."""
    ran = ran_instances(record)
    attempted = len(ran) + len(record["microbatches"]) + len(checks)
    failed = sum(i["status"] != "ok" for i in ran) + sum(not ok for _, ok, _ in checks)
    if n_ops == 0:
        attempted += 1
        failed += 1
    if layer:
        attempted += int(layer["spark.tasks"])
        failed += int(layer["spark.failed_tasks"])
    return attempted, failed


def run_checks(plan, record):
    """Every output of every pipeline instance that ran, against DuckDB or
    the planted ground truth.  A failed pipeline fails its checks."""
    con = check.connect(plan)
    by_yaml = {i["yaml"]: i for p in ("warm", "timed", "traced") for i in plan[p]}
    results = []
    for p in ("warm", "timed", "traced"):
        truth = plan.get("warm_truth") if p == "warm" else plan.get("truth")
        for ran in instances(record[p]) if p in record else []:
            for name, ok, detail in check.check_instance(con, plan, by_yaml[ran["yaml"]], truth):
                results.append((f"{ran['req']}:{name}", ok, detail))
    con.close()
    return results


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    trace = bool(a.trace)
    cores = len(os.sched_getaffinity(0))
    # a terminated run still stops its JVM (see the finally clause)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    run_root = os.path.join(REPO, ".bench_run", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    proc = None
    try:
        g0 = time.perf_counter()
        wl = WORKLOADS[a.workload]
        plan = gen.generate(a.workload, a.seed, run_root, wl["warm_rounds"], wl["trace_rounds"])
        gen_s = time.perf_counter() - g0
        plan.update(trace=trace, cores=cores, seconds=a.seconds, min_rounds=wl["min_rounds"])
        plan_path = os.path.join(run_root, "plan.json")
        record_path = os.path.join(run_root, "record.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)

        cmd = build.java_command(cp, JVM_HEAP, os.path.join(run_root, "tmp"),
                                 "perfbench.Harness", plan_path, record_path)
        with open(os.path.join(run_root, "jvm.log"), "w") as log:
            steal0, total0 = cpu_times()
            popen_ms = time.time() * 1000.0
            # Spark's scratch space stays inside the run directory
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_root, "spark-local"))
            proc = subprocess.Popen(cmd, cwd=run_root, env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            steal1, total1 = cpu_times()
        if rc != 0 or not os.path.exists(record_path):
            with open(os.path.join(run_root, "jvm.log")) as f:
                tail = f.read()[-3000:]
            fail(f"harness exited with {rc}:\n{tail}", 1)
        with open(record_path) as f:
            record = json.load(f)

        checks = run_checks(plan, record)
        e2e, n_ops = end_to_end(a.workload, record, gen_s, popen_ms)
        if trace:
            metrics, spans = per_layer(record, e2e, cores)
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        attempted, failed = tally(record, checks, n_ops, metrics if trace else None)

        op = WORKLOADS[a.workload]["op"]
        print(f"workload {a.workload} seed {a.seed} cores {cores} trace {a.trace}")
        # a busy neighbour on a shared host shows here, not in the code
        print(f"host     {(steal1 - steal0) / max(1, total1 - total0):.1%} of CPU time stolen "
              "by other guests while the JVM ran")
        print(f"inputs   {plan['inputs']['rows']} rows, {plan['inputs']['bytes']} bytes, "
              f"sha256 {plan['inputs']['sha256'][:16]}")
        for p in ("warm", "timed"):
            print(f"{p:<8} rounds of {', '.join(f'{x:.2f}' for x in round_seconds(record[p]))} s")
        print(f"samples  {n_ops} {op} latencies")
        for i in ran_instances(record):
            if i["status"] != "ok":
                print(f"PIPELINE FAILED {i['req']} ({i['template']}): {i.get('error', '')[:400]}")
        for name, ok, detail in checks:
            if not ok:
                print(f"CHECK FAILED {name}: {detail}")
        print(f"checks   {sum(ok for _, ok, _ in checks)}/{len(checks)} passed")
        for k, v in e2e.items():
            label = f"({k.replace('op_', op + '_')})" if k.startswith("op_") else ""
            print(f"  {k:<28} {v:>14.4f} {END_TO_END[k]:<6} {label}")
        print(f"  {'failed_share':<28} {failed / attempted:>14.4f} ratio  ({failed}/{attempted})")
        if trace:
            for k, v in metrics.items():
                print(f"  {k:<28} {v:>14.4f} {PER_LAYER[k]}")
            for names, why in UNSTABLE_COUNTS:
                print(f"  note: {', '.join(names)} may not repeat exactly for one seed: {why}")

        out_dir = os.path.join(REPO, ".bench_run", "records")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{a.workload}-s{a.seed}-t{a.trace}")
        with open(stem + ".json", "w") as f:
            json.dump({"inputs": plan["inputs"], "end_to_end": e2e, "metrics": metrics,
                       "checks": checks, "attempted": attempted, "failed": failed}, f, indent=1)
        if trace:
            with open(stem + ".spans.jsonl", "w") as f:
                for s in spans:
                    f.write(json.dumps(s) + "\n")

        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
                        if a.workload == "stream_sessions" or k not in STATE_STORE},
        }
        print(json.dumps(result))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    main()
