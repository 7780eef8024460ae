#!/usr/bin/env python3
"""Steadiness check: run each workload several times with different seeds,
in two sets, and report every end-to-end metric's median, quartiles and
spread against the bound in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b]

The spread of a set is (Q3 - Q1) / median, with the quartiles of Python's
statistics.quantiles(values, n=4).  A metric is steady when each set's
spread stays within its bound and the second set's median is not worse than
the first's by more than the bound.  A metric that cannot be made steady is
found here and is a candidate to drop.  Each run's share of CPU time the
machine lost to steal (shared VMs) is reported too, since it moves every
timing of a run together.  Results also go to
$CARGO_TARGET_DIR/steady.json (default .bench_build).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpu_times():
    """(steal, total) jiffies of the machine, from /proc/stat; on a shared
    VM the steal share says how much the neighbours slowed a run."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None
    return fields[7], sum(fields)


def one_run(workload, seed, seconds):
    before = cpu_times()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    after = cpu_times()
    steal = (after[0] - before[0]) / (after[1] - before[1]) if before else None
    return {k: v["value"] for k, v in result["metrics"].items()}, steal


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def worse_by(metric, first, second):
    """How much worse the second median is than the first, as a share."""
    change = (second - first) / first
    return change if metric["better"] == "lower" else -change


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    report, steady = {}, True
    for workload in args.workloads.split(","):
        sets, steals = [], []
        for s in range(args.sets):
            done = [one_run(workload, 1000 * (s + 1) + i, args.seconds)
                    for i in range(args.runs)]
            sets.append([metrics for metrics, _ in done])
            steals.append([steal for _, steal in done])
            print(f"{workload}: set {s + 1} done", file=sys.stderr, flush=True)
        report[workload] = {"steal_share": steals}
        if None not in steals[0]:
            print(f"{workload:9s} machine steal share per run: " + "  ".join(
                f"set {i + 1} med {statistics.median(st):.3f} max {max(st):.3f}"
                for i, st in enumerate(steals)))
        for m in bench["end_to_end"]:
            name = m["name"]
            stats = [summary([r[name] for r in runs]) for runs in sets]
            worst = max(st["spread"] for st in stats)
            moves = [worse_by(m, stats[0]["median"], st["median"])
                     for st in stats[1:]]
            ok = worst <= m["bound"] and all(mv <= m["bound"] for mv in moves)
            steady &= ok
            report[workload][name] = {
                "sets": stats, "bound": m["bound"], "worse_by": moves,
                "ok": ok, "values": [[r[name] for r in runs] for runs in sets]}
            print(f"{workload:9s} {name:17s} bound {m['bound']:.2f}  " + "  ".join(
                f"med {st['median']:.4g} [{st['q1']:.4g}, {st['q3']:.4g}] "
                f"spread {st['spread']:.3f}" for st in stats)
                + "  worse_by " + " ".join(f"{mv:+.3f}" for mv in moves)
                + ("" if ok else "  NOT STEADY"))
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "steady.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
