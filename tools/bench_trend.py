#!/usr/bin/env python3
"""Per-query timing trend across rounds: reads every BENCH_r*.json in the
repo root and prints one query x round table (seconds) per series. The
series is the file-name suffix after the round number: BENCH_r17.json is
the main sf0.1 series, BENCH_r17_sf1.json the sf1 octave, BENCH_r17_c8.json
the 8-core run, BENCH_r18_baseline.json the r18 baseline. Usage:
  python3 tools/bench_trend.py [repo_root]
"""
import glob, json, os, re, sys

root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))
MAIN = "sf0.1"
series = {}  # label -> {round: {query: seconds}}
for f in sorted(glob.glob(f"{root}/BENCH_r*.json")):
    m = re.fullmatch(r"BENCH_r(\d+)(?:_(\w+))?\.json", os.path.basename(f))
    if not m:
        print(f"skip {f}: not BENCH_r<round>[_<series>].json", file=sys.stderr)
        continue
    try:
        data = json.load(open(f))
        # driver wrapper format {"tail": "...{json line}..."} or plain.
        # Try EVERY candidate line and keep the LAST one that parses — a
        # log line merely containing '"metric"' (or a truncated fragment)
        # must not shadow the real metric line or drop the round.
        if "queries" not in data and "tail" in data:
            # the metric line starts with {"sf": since round 6 (headline
            # "metric"/"value" pair moved to the END for tail-capture
            # survival); older rounds start with {"metric". Try both
            # anchors, keep the LAST candidate that carries "queries".
            for line in data["tail"].splitlines():
                for anchor in ('{"sf"', '{"metric"'):
                    if anchor in line:
                        try:
                            cand = json.loads(line[line.index(anchor):])
                            if "queries" in cand:
                                data = cand
                        except ValueError:
                            pass
        if "queries" in data:
            # since r13 a query maps to {"med", "min", "max", ...}
            series.setdefault(m.group(2) or MAIN, {})[int(m.group(1))] = {
                n: (v["med"] if isinstance(v, dict) else v)
                for n, v in data["queries"].items()}
        else:
            print(f"skip {f}: no \"queries\"", file=sys.stderr)
    except Exception as e:
        print(f"skip {f}: {e}", file=sys.stderr)

if not series:
    sys.exit("no parseable BENCH_r*.json found")


def table(label, rounds):
    # Bench records a failed query as the sentinel -1.0; treat it as MISSING
    # everywhere (a failure must not lower a total or survive into the
    # comparable intersection).
    ok = {c: {n: v for n, v in rounds[c].items() if v >= 0} for c in rounds}
    names = sorted({q for d in rounds.values() for q in d})
    cols = sorted(rounds)
    w = max(len(n) for n in names) + 1
    print(f"\n[{label}]")
    print("query".ljust(w) + "".join(f"r{c:>02}".rjust(8) for c in cols))
    for n in names:
        row = "".join(
            f"{ok[c][n]:8.2f}" if n in ok[c]
            else ("    FAIL" if n in rounds[c] else "       -")
            for c in cols)
        print(n.ljust(w) + row)
    print("TOTAL".ljust(w) + "".join(
        f"{sum(ok[c].values()):8.2f}" for c in cols))
    # Per-round totals are not comparable when the bench set grows between
    # rounds (a new query reads as a regression); the SHARED total over the
    # intersection of query names is the comparable trend line.
    shared = set.intersection(*(set(ok[c]) for c in cols))
    print(f"SHARED({len(shared)}q)".ljust(w) + "".join(
        f"{sum(ok[c][n] for n in shared):8.2f}" for c in cols))


for label in sorted(series, key=lambda k: (k != MAIN, k)):
    table(label, series[label])
