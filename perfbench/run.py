#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its metrics.

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 12 --trace 0

From the root of a graft checkout: builds graft and the harness from source
(once per source state), generates the fixture tables (once), generates the
seeded statement stream, runs it in a fresh JVM on local[nproc] with one
client thread, checks the outputs against DuckDB, and prints the metrics.
The last line of standard output is one JSON object: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics.  The command exits
with code 1 after printing it when an output is wrong or an operation
failed, and with code 2 without printing it when it cannot run.  Build output,
fixtures and work directories stay under $CARGO_TARGET_DIR (default
.bench_build) in the checkout.  See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402

SETUPS = 4
JVM_TIMEOUT_S = 150
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
WRITE_KINDS = {"insert", "update", "delete", "merge"}
PROBE_OP = -2  # the operation id of spans recorded by the Dml probe
KERNELS = ["md5_word_ids", "cdc_chunks", "minhash_sig", "simhash64",
           "cosine_sim", "topk_neighbors"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


# ---- build ----------------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main",
            "perfbench/harness/build.sbt", "perfbench/harness/project",
            "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, subdirs, fs in os.walk(p)
            for f in fs if "target" not in d.split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile graft (with its own build) and the harness; returns the
    runtime classpath.  Skipped when the sources are unchanged."""
    stamp = os.path.join(build_dir, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["classpath"]
    log("building graft and the harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    with open(os.path.join(build_dir, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
            stderr=out, stdin=subprocess.DEVNULL, text=True, timeout=600)
        out.write(proc.stdout)
    cp = [line for line in proc.stdout.splitlines()
          if "perfbench" in line and "scala-2.13/classes" in line
          and not line.startswith("[")]
    if proc.returncode != 0 or not cp:
        fail(f"build failed, see {build_dir}/build.log")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def fixtures(build_dir):
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(build_dir, "data", version)
    if not os.path.exists(os.path.join(data, "_complete")):
        log("generating fixture tables")
        shutil.rmtree(data, ignore_errors=True)
        datagen.generate(data)
        open(os.path.join(data, "_complete"), "w").close()
    return data


# ---- one run -----------------------------------------------------------------

def run_jvm(classpath, plan_path, data, work, out, seconds, trace, cores):
    # a fixed heap keeps the peak resident set from following the
    # collector's adaptive resizing
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Main", plan_path, data, work, out,
              str(seconds), "1" if trace else "0", str(cores), str(SETUPS)])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=logf,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S + seconds)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("the JVM did not finish in time")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"the JVM exited with {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---- metrics -----------------------------------------------------------------

def pct(values, q):
    """Linear-interpolated percentile (q in 0..100)."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] \
        if q != 50 else float(statistics.median(values))


def end_to_end(res, ops):
    lat = [o["seconds"] if o["ok"] else float("inf") for o in ops]
    return {
        "setup_s": (statistics.median(s["total_s"] for s in res["setups"]), "s"),
        "first_run_s": (sum(w["seconds"] for w in res["warm"]), "s"),
        "throughput_ops_s": (len(ops) / res["loop_s"], "1/s"),
        "latency_p50_s": (pct(lat, 50), "s"),
        "latency_p90_s": (pct(lat, 90), "s"),
    }


def self_times(spans):
    """Each span's duration minus the part its child spans cover."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + (
                s["end_ns"] - s["start_ns"])
    out = {}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        out.setdefault(s["name"], []).append(dur / 1e9)
    return out


def per_layer(res, plan, ops, attempted, cores, changed_rows):
    with open(res["spans"]) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    selfs = self_times([s for s in spans if s["op"] != PROBE_OP])
    probe = self_times([s for s in spans if s["op"] == PROBE_OP])
    probe_ops = res["probe_ops"]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    exec_ = [res["exec"][str(o["id"])] for o in traced]
    n = max(len(exec_), 1)

    def p50(name):
        return pct(selfs.get(name, []), 50)

    def mean(field):
        return sum(e[field] for e in exec_) / n

    def setup(field):
        return statistics.median(s[field] for s in res["setups"])

    phases = [e for e in exec_ if e["queries"]]
    busy_s = sum(e["task_busy_ms"] for e in exec_) / 1000
    wall_s = sum(o["seconds"] for o in traced)
    eligible = [o for o in traced if plan["pass"][o["idx"]].get("mv_eligible")]
    mv_root = res["mv_root"]
    served = [o for o in eligible if any(
        r.replace("file:", "").startswith(mv_root)
        for r in res["exec"][str(o["id"])]["scanned_roots"])]
    cache = list(res["cache"].values())
    rounds = res["rounds"]
    writes = [w for r in rounds for w in r["write_bytes"]]
    write_bytes = sum(w["bytes"] for w in writes)
    row_bytes = [r["live_bytes"] / changed_rows["live_rows"] for r in rounds] \
        if changed_rows else []
    changed = sum(changed_rows["by_idx"].get(w["idx"], 0) for w in writes) \
        if changed_rows else 0
    m = {
        "setup.first_s": (res["setups"][0]["total_s"], "s"),
        "setup.session_s": (setup("session_s"), "s"),
        "tables.register_s": (setup("register_s"), "s"),
        "plans.mv_create_s": (p50("plans.mv_create"), "s"),
        "context.execute_s": (p50("context.execute"), "s"),
        "operators.build_s": (p50("operators.build"), "s"),
        "plans.analysis_s": (pct([e["analysis_ms"] / 1e3 for e in phases], 50), "s"),
        "plans.optimization_s": (
            pct([e["optimization_ms"] / 1e3 for e in phases], 50), "s"),
        "plans.planning_s": (pct([e["planning_ms"] / 1e3 for e in phases], 50), "s"),
        "plans.mv_rewrite_ratio": (
            len(served) / len(eligible) if eligible else 0.0, "ratio"),
        "exec.s": (p50("exec"), "s"),
        "exec.jobs": (mean("jobs"), "count"),
        "exec.stages": (mean("stages"), "count"),
        "exec.tasks": (mean("tasks"), "count"),
        "exec.task_busy_s": (busy_s / n, "s"),
        "exec.core_busy_ratio": (busy_s / (wall_s * cores) if wall_s else 0.0,
                                 "ratio"),
        "exec.scan_bytes": (mean("scan_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (mean("shuffle_write_bytes"), "bytes"),
        "exec.shuffle_read_bytes": (mean("shuffle_read_bytes"), "bytes"),
        "exec.spill_bytes": (mean("spill_bytes"), "bytes"),
        "exec.peak_exec_mem_bytes": (
            max((e["peak_exec_mem_bytes"] for e in exec_), default=0), "bytes"),
        "peak_rss_mb": (res["rss_hwm_kb"] / 1024.0, "MB"),
        "exec.exchanges": (mean("exchanges"), "count"),
        "exec.non_codegen_ops": (mean("non_codegen_ops"), "count"),
    }
    for k in KERNELS:
        m[f"functions.{k}_s"] = (res["kernels"].get(k, 0.0), "s")
    m.update({
        "cache.tracked_frames": (
            sum(c["tracked"] for c in cache) / max(len(cache), 1), "count"),
        "cache.stored_bytes": (
            sum(c["stored_bytes"] for c in cache) / max(len(cache), 1), "bytes"),
        "cache.release_s": (p50("cache.release"), "s"),
    })
    for k in ["insert", "update", "delete", "merge"]:
        m[f"dml.{k}_s"] = (pct(probe.get(f"dml.{k}", []), 50), "s")

    def probe_p50(kinds):
        return pct([o["seconds"] for o in probe_ops if o["kind"] in kinds], 50)

    m.update({
        "dml.read_latest_s": (probe_p50({"read"}), "s"),
        "dml.time_travel_s": (probe_p50({"time_travel"}), "s"),
        "dml.write_p50_s": (probe_p50(WRITE_KINDS), "s"),
        "dml.bytes_written": (write_bytes / max(len(writes), 1), "bytes"),
        "dml.write_amp": (
            write_bytes / (changed * statistics.median(row_bytes))
            if changed else 0.0, "ratio"),
        "dml.dirs_created": (
            statistics.median(r["dirs"] for r in rounds) if rounds else 0, "count"),
        "dml.space_bytes": (
            statistics.median(r["bytes"] for r in rounds) if rounds else 0, "bytes"),
        "dml.space_amp": (statistics.median(
            (r["base_bytes"] + r["bytes"]) / r["live_bytes"] for r in rounds)
            if rounds else 0.0, "ratio"),
        "failed_ops_ratio": (
            sum(not o["ok"] for o in attempted) / len(attempted), "ratio"),
        "trace.overhead_s": (
            pct([o["seconds"] for o in traced], 50)
            - pct([o["seconds"] for o in untraced], 50), "s"),
    })
    return m, dict(selfs, **{f"probe.{k}": v for k, v in probe.items()})


# ---- main ----------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to perfbench/ - run from a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    t_start = time.time()
    classpath = build(build_dir)
    data = fixtures(build_dir)

    # every run starts from an empty work directory of its own
    work = os.path.join(build_dir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = workloads.make_plan(args.workload, args.seed)
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cores = len(os.sched_getaffinity(0))
    t_jvm = time.time()
    res = run_jvm(classpath, plan_path, data, work,
                  os.path.join(work, "result.json"), args.seconds,
                  args.trace == 1, cores)
    log(f"JVM {time.time() - t_jvm:.1f} s")
    ops = res["ops"]
    attempted = ops + res["warm"] + res["warmup"] + res["probe_ops"]
    failed = [o for o in attempted if not o["ok"]]
    for o in failed[:5]:
        log(f"failed op {o['key']}: {o.get('error')}")

    t_check = time.time()
    verdict = checks.check(args.workload, plan, res, data)
    log(f"DuckDB checks {time.time() - t_check:.1f} s")
    for line in verdict.problems[:20]:
        log(f"check: {line}")
    log(f"checked {verdict.checked} outputs, {len(verdict.problems)} mismatches")

    if args.trace:
        metrics, selfs = per_layer(res, plan, ops, attempted, cores,
                                   verdict.changed_rows)
        with open(os.path.join(work, "self_times.json"), "w") as f:
            json.dump({k: {"n": len(v), "p50_s": pct(v, 50), "total_s": sum(v)}
                       for k, v in sorted(selfs.items())}, f, indent=1)
    else:
        metrics = end_to_end(res, ops)
    meta = dict(res["meta"], seed=args.seed, workload=args.workload,
                nproc=os.cpu_count(), cores=cores, git_sha=git_sha(),
                data_dir=os.path.relpath(data, ROOT), python=platform.python_version(),
                passes=res["passes"], loop_s=round(res["loop_s"], 3),
                warmup_passes=res["warmup_passes"],
                warmup_s=round(res["warmup_s"], 3),
                samples={"latency": len(ops),
                         "traced": sum(o["traced"] for o in ops),
                         "dml_probe": len(res["probe_ops"]),
                         "setups": len(res["setups"])},
                wall_s=round(time.time() - t_start, 1))
    with open(os.path.join(work, "metrics.json"), "w") as f:
        json.dump({"meta": meta, "metrics": metrics}, f, indent=1)
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print("meta " + json.dumps(meta, sort_keys=True))
    correct = verdict.ok and not failed
    print(json.dumps({
        "correct": correct,
        "attempted": len(attempted),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    if not correct:
        log("wrong output or failed operations")
        sys.exit(1)


if __name__ == "__main__":
    main()
