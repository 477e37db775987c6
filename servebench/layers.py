"""Per-layer metrics derived from a traced run's span file (trace.json).

A request is one dashboard query or one ingest micro-batch. Each has
operators.build, plans.plan and exec children (a micro-batch has
sources.offset, plans.plan, exec and streaming.commit), and exec holds the Spark job spans of the
request's job group with their stage spans. Times are per-request means
unless the name says otherwise.
"""
import json
import statistics
from collections import defaultdict

STAGE_KEYS = ["tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
              "scheduler_delay_ms", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "bytes_read", "records_read", "bytes_written",
              "task_failures"]


def _median(xs):
    return statistics.median(xs) if xs else None


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def derive(path, workload):
    with open(path) as f:
        doc = json.load(f)
    run = doc["run"]
    spans = {s["id"]: s for s in doc["spans"]}
    kids = defaultdict(list)
    for s in spans.values():
        kids[s["parent"]].append(s)

    def dur_ms(s):
        return (s["end_us"] - s["start_us"]) / 1000.0

    def under(s, name):
        p = spans.get(s["parent"])
        while p is not None:
            if p["name"] == name:
                return True
            p = spans.get(p["parent"])
        return False

    def descendants(s):
        out, todo = [], list(kids[s["id"]])
        while todo:
            c = todo.pop()
            out.append(c)
            todo.extend(kids[c["id"]])
        return out

    if workload == "dashboard":
        reqs = [s for s in spans.values() if s["name"] == "request" and under(s, "measure")]
    else:
        reqs = [s for s in spans.values() if s["name"] == "streaming.batch"
                and s["attrs"]["rows"] > 0]
    n = max(len(reqs), 1)

    build, plan, exe, eager, jobs, stages = [], [], [], [], [], []
    sums = defaultdict(float)
    exec_task_ms = 0.0
    for r in reqs:
        ch = {c["name"]: c for c in kids[r["id"]]}
        replan = ch["plans.plan"]["attrs"].get("write_replan_us", 0) / 1000.0
        build.append(dur_ms(ch["operators.build"]) if "operators.build" in ch else 0.0)
        plan.append(dur_ms(ch["plans.plan"]) + replan)
        exe.append(dur_ms(ch["exec"]) - replan)
        js = [d for d in descendants(r) if d["name"] == "job"]
        jobs.append(len(js))
        eager.append(sum(1 for j in js if j["attrs"]["phase"] == "build"))
        st = [d for d in descendants(r) if d["name"] == "stage"]
        stages.append(len(st))
        for s in st:
            for k in STAGE_KEYS:
                sums[k] += float(s["attrs"][k])
        exec_task_ms += sum(float(d["attrs"]["task_run_ms"])
                            for d in descendants(ch["exec"]) if d["name"] == "stage")
    if workload == "ingest":
        # stream frames are built once per query start, not per batch
        builds = [s for s in spans.values() if s["name"] == "operators.build"]
        build = [sum(dur_ms(s) for s in builds) / n]

    silver = [s for s in spans.values() if s["name"] == "silver"]
    silver_ms = [dur_ms(s) for s in silver]
    silver_bytes = [sum(float(d["attrs"]["bytes_written"]) for d in descendants(s)
                        if d["name"] == "stage") for s in silver]

    batches = [s for s in spans.values() if s["name"] == "streaming.batch"]
    data = [b for b in batches if b["attrs"]["rows"] > 0]
    live = sorted((b for b in batches if b["attrs"]["phase"] == "live"),
                  key=lambda b: b["attrs"]["batch_id"])

    def bmed(k):
        return _median([float(b["attrs"][k]) for b in data])

    # self time per layer over the measured requests and everything below
    self_ms = defaultdict(float)
    for s in [x for r in reqs for x in [r] + descendants(r)]:
        child = sum(dur_ms(c) for c in kids[s["id"]])
        self_ms[s["layer"]] += max(0.0, dur_ms(s) - child)

    exec_total = sum(exe)
    m = {
        "operators.build_ms": _mean(build),
        "operators.eager_jobs": _mean(eager),
        "plans.plan_ms": _mean(plan),
        "exec.ms": _mean(exe),
        "exec.jobs": _mean(jobs),
        "exec.stages": _mean(stages),
        "exec.tasks": sums["tasks"] / n,
        "exec.task_run_ms": sums["task_run_ms"] / n,
        "exec.task_cpu_ms": sums["task_cpu_ms"] / n,
        "exec.parallelism": exec_task_ms / exec_total if exec_total > 0 else 0.0,
        "exec.scheduler_delay_ms": sums["scheduler_delay_ms"] / n,
        # JVM-wide GC during the measured phase: local executors share the
        # Spark driver JVM, and per-task GC time is mostly below a millisecond
        "exec.gc_ms": run["jvm_gc_ms"] / n,
        "exec.task_gc_ms": sums["gc_ms"] / n,
        "exec.shuffle_write_bytes": sums["shuffle_write_bytes"] / n,
        "exec.shuffle_read_bytes": sums["shuffle_read_bytes"] / n,
        "exec.spill_bytes": sums["spill_bytes"] / n,
        "exec.task_failures": sums["task_failures"],
        "codegen.compile_ms": run["codegen_compile_ms"],
        "codegen.classes": run["codegen_classes"],
        "sources.bytes_read": sums["bytes_read"] / n,
        "sources.records_read": sums["records_read"] / n,
        "sources.offset_ms_p50": bmed("offset_ms"),
        "silver.build_ms": _mean(silver_ms) if silver_ms else None,
        "silver.build_ms_max": max(silver_ms) if silver_ms else None,
        "silver.bytes_written": _mean(silver_bytes),
        "silver.hit_ratio": run.get("silver_hit_ratio", 0.0),
        "streaming.batches": len(data),
        "streaming.rows_per_batch": _mean([float(b["attrs"]["rows"]) for b in data]),
        "streaming.trigger_ms_p50": bmed("trigger_ms"),
        "streaming.planning_ms_p50": bmed("planning_ms"),
        "streaming.add_batch_ms_p50": bmed("add_batch_ms"),
        "streaming.wal_commit_ms_p50": bmed("wal_commit_ms"),
        "streaming.state_commit_ms_p50": bmed("state_commit_ms"),
        "streaming.state_rows": float(live[-1]["attrs"]["state_rows"]) if live else 0.0,
        "streaming.state_bytes": float(live[-1]["attrs"]["state_bytes"]) if live else 0.0,
        "streaming.backlog_files": run.get("backlog_files", 0),
        "gen.late_ms_p95": run.get("gen_late_ms_p95"),
        "trace.overhead_pct": run.get("overhead_pct", 0.0),
    }
    return m, {k: v / n for k, v in sorted(self_ms.items())}
