#!/usr/bin/env python3
"""Serving benchmark for the graft engine (see README.md).

    python3 servebench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Builds the engine plus the benchmark's JVM side (sbt, first run only),
generates the workload's inputs from the seed, runs it for --seconds of measured
work, checks the outputs against DuckDB, and prints one JSON object as the
last line of stdout: end-to-end metrics with --trace 0, per-layer metrics
(derived from the run's span file) with --trace 1.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

CPUS = 4
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
RUN_LIMIT_S = 170

DASHBOARD_QUERIES = [
    "q03_gold_daily", "q08_latest_per_key", "q14_topk", "q18_lead_lag_labels",
    "q19_returns", "q20_rolling_mean", "q25_direction_accuracy",
    "q31_sentiment_score", "q33_prediction_docs", "q94_asof_native",
    "q101_asof_left", "q102_model_artifact_score", "q153_vwap", "q154_macd",
    "q155_max_drawdown", "q176_rolling_corr", "q294_expected_shortfall",
    "q05_stream_static_join"]

# Input sizes, fixed per workload (sf = fixture scale factor).
SIZES = {
    "dashboard": {"sf": 0.002},
    "ingest": {"events_per_file": 100, "rate_ms": 100, "backlog_events": 5000},
}

# name -> (unit, meaning per workload); the end_to_end metrics
E2E = {
    "setup_s": ("s", "session start + input generation + warm-up"),
    "cpu_ms_per_op": ("ms", "engine JVM CPU per dashboard request / "
                            "1000 ingested events"),
    "latency_p50_ms": ("ms", "dashboard: query_p50_ms; ingest: freshness_p50_ms"),
    "latency_tail_ms": ("ms", "dashboard: query_p90_ms; ingest: freshness_p95_ms"),
    "throughput_per_s": ("1/s", "dashboard: queries_per_s; ingest: "
                                "catchup_events_per_s"),
    "heap_retained_mb": ("MB", "engine JVM heap in use after full GC at the end "
                               "of the measured phase"),
}
NAMED_UNITS = {
    "query_p50_ms": "ms", "query_p90_ms": "ms", "queries_per_s": "1/s",
    "freshness_p50_ms": "ms", "freshness_p95_ms": "ms",
    "catchup_events_per_s": "1/s", "peak_rss_mb": "MB",
}
# per-layer metrics measured on every workload (the --trace 1 result)
PER_LAYER = {
    "operators.build_ms": "ms", "operators.eager_jobs": "count",
    "plans.plan_ms": "ms", "exec.ms": "ms", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms", "exec.parallelism": "ratio",
    "exec.scheduler_delay_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.task_failures": "count",
    "codegen.compile_ms": "ms", "codegen.classes": "count",
    "sources.bytes_read": "bytes", "sources.records_read": "count",
    "silver.bytes_written": "bytes", "silver.hit_ratio": "ratio",
    "trace.overhead_pct": "%",
}
# per-layer metrics that exist only where their layer runs; reported in
# the trace summary line, not in the result object
LAYER_ONLY = {
    "silver.build_ms": "ms", "silver.build_ms_max": "ms",
    "exec.task_gc_ms": "ms", "sources.offset_ms_p50": "ms",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count", "streaming.trigger_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms", "streaming.add_batch_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms", "streaming.state_commit_ms_p50": "ms",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.backlog_files": "count", "gen.late_ms_p95": "ms",
}


def log(*a):
    print("[servebench]", *a, file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jar directory the engine's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("servebench: no Spark jars (engine build.sbt unmanagedBase or SPARK_HOME)")


def engine_sources():
    return sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*.*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")])


def build():
    """Compile engine + benchmark JVM code with sbt unless the classes match
    the sources."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise SystemExit("servebench: engine sources (src/main/scala) not found "
                         "next to the benchmark directory")
    h = hashlib.sha256()
    for p in engine_sources():
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = os.path.join(HERE, "target", "sources.sha256")
    if os.path.isdir(CLASSES) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SERVEBENCH_SPARK_JARS=spark_jars())
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + benchmark (sbt compile)")
    with open(os.path.join(HERE, "target", "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "copyResources"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        raise SystemExit(f"servebench: sbt compile failed (rc={rc}), see "
                         f"{os.path.join(HERE, 'target', 'build.log')}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def prepare(workload, seed, seconds, work):
    """Generate the workload's inputs; returns (JVM args, fingerprints)."""
    s = SIZES[workload]
    fps = {}
    if workload == "dashboard":
        corpus = gen.corpus(os.path.join(work, "corpus"), seed, s["sf"])
        fps["corpus"] = gen.fingerprint(corpus)
        req = os.path.join(work, "requests.txt")
        order = gen.request_order(seed, DASHBOARD_QUERIES, 5000)
        with open(req, "w") as f:
            f.write("\n".join(order) + "\n")
        fps["requests"] = hashlib.sha256("\n".join(order).encode()).hexdigest()[:16]
        return ["--corpus", corpus, "--requests", req,
                "--queries", ",".join(DASHBOARD_QUERIES)], fps
    # enough files to offer for the whole run, plus the set-up's warm files
    n_files = int(seconds * 1000 / s["rate_ms"]) + 4
    staged, backlog = gen.stream_inputs(
        os.path.join(work, "stream"), seed, n_files, s["events_per_file"],
        s["backlog_events"])
    fps["staged"] = gen.fingerprint(staged)
    fps["backlog"] = gen.fingerprint(backlog)
    return ["--staged", staged, "--backlog", os.path.join(backlog, "events.parquet"),
            "--rate-ms", str(s["rate_ms"])], fps


def java_cmd(work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
                  "-cp", f"{CLASSES}:{spark_jars()}/*", "graft.servebench.Main"]


def drive(workload, seed, seconds, trace, work, inject_failure, deadline):
    """Generate inputs, run the benchmark JVM, return its result + extras."""
    t0 = time.time()
    args, fps = prepare(workload, seed, seconds, work)
    gen_s = time.time() - t0
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    launch_us = int(time.time() * 1e6)
    cmd = java_cmd(work) + [
        "--workload", workload, "--seconds", str(seconds), "--trace", str(trace),
        "--work", work, "--out", out, "--launch-us", str(launch_us),
        "--cpus", str(CPUS), "--inject-failure", "1" if inject_failure else "0"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("servebench: interrupted")
        # a terminated benchmark must not leave its JVM running
        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        finally:
            for s, h in old.items():
                signal.signal(s, h)
    if rc != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"servebench: benchmark JVM failed ({rc}):\n{tail}")
    with open(out) as f:
        res = json.load(f)
    res["generate_s"] = gen_s
    res["setup_s"] = gen_s + (res["setup_done_us"] - launch_us) / 1e6
    res["input_fingerprints"] = fps
    return res


def correctness(res, work):
    """Compare every saved query result with its DuckDB oracle, using the
    engine's own oracle check (tools/check_oracle.py); returns failure
    entries."""
    sql = res.get("oracle_sql") or {}
    if not sql:
        return []
    results = os.path.join(work, "results")
    with open(os.path.join(results, "oracle_sql.json"), "w") as f:
        json.dump(sql, f)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        res["oracle_dir"], results],
                       capture_output=True, text=True, timeout=300)
    verdict = {}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? (.*)", line)
        if m:
            verdict[m.group(2)] = None if m.group(1) == "PASS" else m.group(3)
    for name in sql:
        verdict.setdefault(name, f"no oracle verdict (check_oracle rc={p.returncode}): "
                                 f"{p.stderr.strip()[-200:]}")
    res["oracle_checked"] = sorted(verdict)
    return [{"kind": "oracle", "name": n, "error": why}
            for n, why in sorted(verdict.items()) if why is not None]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except Exception:  # noqa: BLE001 - not a git checkout
        return "unknown"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="self-test: add one request that must fail")
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args(argv)
    build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(HERE, ".work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = drive(a.workload, a.seed, a.seconds, a.trace, work, a.inject_failure,
                    deadline)
        failures = res["failures"] + correctness(res, work)
        attempted = res["attempted"] + len(res.get("oracle_checked", []))
        report = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace,
            "named": {k: {"value": v, "unit": NAMED_UNITS[k]}
                      for k, v in dict(res["named"], peak_rss_mb=res["peak_rss_mb"]).items()},
            "failed_share": len(failures) / max(attempted, 1),
            "failures": failures[:20],
            "oracle_checked": res.get("oracle_checked", []),
            "setup_s": res["setup_s"], "generate_s": res["generate_s"],
            "phase_end_s": res["phase_end_s"],
            "samples": {k: res[k] for k in ("requests", "latency_samples", "iterations",
                                            "files_offered", "drains") if k in res},
            "measured_steal_s": res["measured_steal_s"],
            "input_fingerprints": res["input_fingerprints"],
            "fixture_fingerprint": res["fixture_fp"],
            "conf": res["conf"], "nproc": os.cpu_count(),
            "java": res["java_version"], "spark": res["spark_version"],
            "scala": res["scala_version"], "commit": git_commit(),
        }
        if a.trace:
            import layers as layer_metrics
            layers, self_ms = layer_metrics.derive(os.path.join(work, "trace.json"), a.workload)
            report["layers"] = {k: {"value": layers[k], "unit": u}
                                for k, u in {**PER_LAYER, **LAYER_ONLY}.items()}
            report["self_ms_per_request"] = self_ms
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            values = dict(res["e2e"], setup_s=res["setup_s"],
                          heap_retained_mb=res["heap_retained_mb"])
            metrics = {k: {"value": values[k], "unit": E2E[k][0]} for k in E2E}
        print("servebench-report " + json.dumps(report), flush=True)
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}), flush=True)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
