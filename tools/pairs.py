#!/usr/bin/env python3
"""Compare two checkouts with servebench in alternating pairs.

    python3 tools/pairs.py PARENT_DIR CHANGE_DIR --workload dashboard \\
        --seeds 61-70 [--seconds 10] [--trace 0] [--out pairs.json]
    python3 tools/pairs.py --summarize pairs.json [more.json ...]

Each seed is one pair: both checkouts run `servebench/run.py` with that
seed, one run at a time, and the side that runs first alternates from
pair to pair (the parent first on the first pair). Every run's result is
appended to --out as soon as it ends, so an interrupted comparison keeps
its finished pairs. For every metric of the run (end-to-end with
--trace 0, per-layer with --trace 1) the summary prints each side's
median and quartiles, how many pairs the change won, the parent's
interquartile range and the median change; then each run's
`measured_steal_s` (CPU time the host took from the run's measured
phase). A gain is claimed only when the change wins at least 9 of 10
pairs and its median gain exceeds the parent's interquartile range.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SIDES = ("parent", "change")


def seeds(spec):
    """'61-63,70' -> [61, 62, 63, 70]"""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def directions(checkout):
    """metric -> 'lower' | 'higher', from the checkout's BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def run_one(checkout, workload, seed, seconds, trace, log_path):
    """One servebench run: its result line, measured steal, exit code and wall time."""
    cmd = [sys.executable, "servebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.time() - t0
    with open(log_path, "w") as f:
        f.write(p.stdout + "\n--- stderr ---\n" + p.stderr)
    lines = p.stdout.strip().splitlines()
    report = next((json.loads(l.split(" ", 1)[1]) for l in lines
                   if l.startswith("servebench-report ")), {})
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"result": result, "steal_s": report.get("measured_steal_s"),
            "exit": p.returncode, "wall_s": round(wall, 1)}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs, better):
    """Lines of the comparison of `runs` (dicts with seed, side, result, ...).

    >>> r = lambda seed, side, v: {"seed": seed, "side": side, "first": "parent",
    ...     "steal_s": 0.1, "result": {"correct": True, "failed": 0,
    ...     "metrics": {"m": {"value": v, "unit": "ms"}}}}
    >>> runs = [r(1, "parent", 10), r(1, "change", 8), r(2, "parent", 12),
    ...         r(2, "change", 9), r(3, "parent", 11), r(3, "change", 12)]
    >>> print(summarize(runs, {"m": "lower"})[1])
    m (ms, lower): parent 11 [10.5, 11.5] -> change 9 [8.5, 10.5]; change won 2/3 pairs; parent IQR 1; median -18.2 %
    """
    by_seed = {}
    for r in runs:
        by_seed.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [p for _, p in sorted(by_seed.items())
             if all(p.get(s, {}).get("result") for s in SIDES)]
    out = [f"{len(pairs)} complete pairs"]
    if not pairs:
        return out
    metrics = pairs[0]["parent"]["result"]["metrics"]
    for name, m in metrics.items():
        vals = {s: [p[s]["result"]["metrics"][name]["value"] for p in pairs] for s in SIDES}
        if any(v is None for s in SIDES for v in vals[s]):
            out.append(f"{name}: not measured on every run")
            continue
        lower = better.get(name, "lower") == "lower"
        wins = sum((c < p) if lower else (c > p) for p, c in zip(vals["parent"], vals["change"]))
        (pq1, pmed, pq3), (cq1, cmed, cq3) = (quartiles(vals[s]) for s in SIDES)
        delta = f"{100 * (cmed - pmed) / pmed:+.1f} %" if pmed else "n/a"
        out.append(
            f"{name} ({m['unit']}, {'lower' if lower else 'higher'}): "
            f"parent {pmed:.4g} [{pq1:.4g}, {pq3:.4g}] -> change {cmed:.4g} "
            f"[{cq1:.4g}, {cq3:.4g}]; change won {wins}/{len(pairs)} pairs; "
            f"parent IQR {pq3 - pq1:.4g}; median {delta}")
    out.append("runs (seed, first side, side: correct / failed / measured_steal_s):")
    for seed, p in sorted(by_seed.items()):
        cells = []
        for s in SIDES:
            r = p.get(s)
            res = r and r.get("result")
            steal = "n/a" if r is None or r["steal_s"] is None else f"{r['steal_s']:.2f}"
            cells.append(f"{s}: " + (f"{res['correct']} / {res['failed']} / {steal}"
                                     if res else "no result"))
        first = next(iter(p.values()))["first"]
        out.append(f"  {seed} ({first} first) " + "; ".join(cells))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dirs", nargs="*", metavar="DIR", help="parent checkout, change checkout")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", type=seeds, help="e.g. 61-70 or 1,3,5")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", default="pairs.json", help="JSON lines, one per run")
    ap.add_argument("--summarize", nargs="+", metavar="FILE",
                    help="only print the summary of earlier --out files")
    a = ap.parse_args(argv)
    if a.summarize:
        runs = [json.loads(l) for f in a.summarize for l in open(f) if l.strip()]
        repo = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
        print("\n".join(summarize(runs, directions(repo))))
        return
    if len(a.dirs) != 2 or not a.workload or not a.seeds:
        ap.error("give PARENT_DIR CHANGE_DIR, --workload and --seeds (or --summarize)")
    dirs = dict(zip(SIDES, map(os.path.abspath, a.dirs)))
    logs = os.path.splitext(os.path.abspath(a.out))[0] + "-logs"
    os.makedirs(logs, exist_ok=True)
    runs = []
    for i, seed in enumerate(a.seeds):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for side in order:
            log = os.path.join(logs, f"{a.workload}-s{seed}-t{a.trace}-{side}.log")
            r = dict(run_one(dirs[side], a.workload, seed, a.seconds, a.trace, log),
                     seed=seed, side=side, first=order[0], workload=a.workload,
                     trace=a.trace)
            runs.append(r)
            with open(a.out, "a") as f:
                f.write(json.dumps(r) + "\n")
            print(f"seed {seed} {side}: exit {r['exit']}, {r['wall_s']} s", flush=True)
    print("\n".join(summarize(runs, directions(dirs["change"]))))


if __name__ == "__main__":
    main()
