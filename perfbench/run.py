#!/usr/bin/env python3
"""Seeded, layered benchmark of the graft engine.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark's JVM side from source (perfbench/build.py),
generates the workload's inputs from the seed, runs one JVM closed-loop
client at local[nproc], checks every output, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
A run record with width, load, calibration, seed and commit goes to
.bench_build/runs/<run>/record.json and to the second-to-last line.
Exits non-zero when any operation fails or any output is wrong.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import build  # noqa: E402

FIXTURE = os.path.join(HERE, "data", "fixture.json")
EXPECTED = os.path.join(HERE, "expected", "digests.json")
# a default run ends well within 180 s; --full passes are longer,
# manual runs
JVM_TIMEOUT_S = 170
LONG_JVM_TIMEOUT_S = 900


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def cpu_times():
    """(steal, total) jiffies of the box since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def make_plan(workload, seed, seconds, trace, full, registry, fixture, run_dir):
    plan = {"workload": workload, "seconds": seconds, "trace": bool(trace),
            "cpus": os.cpu_count(),
            "data_dir": os.path.join(HERE, "data", fixture["dir"]),
            "work_dir": run_dir}
    if workload in benchlib.WORKLOAD_OBJECTS:
        plan["ops"] = benchlib.permuted(
            benchlib.workload_queries(registry, workload, full), seed)
        if workload == "analytics" and not full:
            plan["warmup_ops"] = list(benchlib.ANALYTICS_WARMUP)
    else:
        plan.update(benchlib.wave_plan(seed, min(fixture["documents"], benchlib.WAVE_DOCS),
                                       fixture["embeddings"]))
    return plan


def failures_of(out, expected):
    """Every failed operation or wrong output, by name."""
    bad = []
    for s in out["spans"]:
        if not s["measured"] or s["kind"] in ("meta", "check"):
            continue
        if not s["ok"]:
            bad.append({"op": s["name"], "kind": s["kind"], "error": s["error"]})
        elif s["kind"] == "query":
            want = expected.get(s["name"])
            got = s["extra"].get("digest")
            if want is None:
                bad.append({"op": s["name"], "kind": "query", "error": "no expected digest"})
            elif got != want:
                bad.append({"op": s["name"], "kind": "query",
                            "error": f"digest {got} != expected {want}"})
    for c in out["extra"].get("checks", []):
        if not c["ok"]:
            bad.append({"op": c["name"], "kind": "check", "error": c["error"]})
    if out["workload"] == "curation" and not out["extra"].get("hits_ok", True):
        bad.append({"op": "memo hits", "kind": "hit", "error": "a memo accessor failed"})
    if out["unattributed_jobs"] > 0:
        bad.append({"op": "trace", "kind": "trace",
                    "error": f"{out['unattributed_jobs']} jobs attributed to no span"})
    return bad


def attempted_of(out):
    ops = [s for s in out["spans"] if s["measured"] and s["kind"] not in ("meta", "check")]
    return len(ops) + len(out["extra"].get("checks", []))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=benchlib.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true",
                    help="run every query of the workload (longer than a driver run)")
    ap.add_argument("--record", action="store_true",
                    help="store this run's query digests as the expected ones")
    args = ap.parse_args(argv)

    try:
        source_hash = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    registry = build.registry()
    problems = benchlib.check_partition(registry, benchlib.load_unmeasured())
    if problems:
        print("[perfbench] workload partition broken: " + "; ".join(problems), file=sys.stderr)
        return 2
    with open(FIXTURE) as f:
        fixture = json.load(f)
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f)["digests"]

    run_dir = os.path.join(build.BUILD, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    plan = make_plan(args.workload, args.seed, args.seconds, args.trace, args.full, registry,
                     fixture, run_dir)
    plan_path = os.path.join(run_dir, "plan.json")
    out_path = os.path.join(run_dir, "out.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    load_before = loadavg()
    steal0, total0 = cpu_times()
    t0 = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(build.java_cmd(["run", plan_path, out_path],
                                               tmpdir=os.path.join(run_dir, "tmp")),
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=LONG_JVM_TIMEOUT_S if args.full else JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    process_s = time.time() - t0
    load_after = loadavg()
    steal1, total1 = cpu_times()
    for sub in ("stores", "recompute", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    if rc != 0 or not os.path.exists(out_path):
        print(f"[perfbench] benchmark JVM failed ({rc}); log: {run_dir}/jvm.log", file=sys.stderr)
        return 1
    with open(out_path) as f:
        out = json.load(f)

    if args.record:
        digests = dict(expected)
        digests.update({s["name"]: s["extra"]["digest"] for s in out["spans"]
                        if s["kind"] == "query" and s["ok"]})
        os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
        with open(EXPECTED, "w") as f:
            json.dump({"fixture": fixture["dir"], "digests": dict(sorted(digests.items()))},
                      f, indent=1)
            f.write("\n")
        expected = digests

    failures = failures_of(out, expected)
    attempted = attempted_of(out)
    e2e, tail_info = benchlib.end_to_end(out)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "full": args.full, "width": out["cpus"], "nproc": os.cpu_count(),
        "loadavg_before": load_before, "loadavg_after": load_after,
        # CPU time the hypervisor gave to other guests during the run
        "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "job_overhead_us": out["job_overhead_us"],
        "git_commit": git_commit(), "source_hash": source_hash,
        "fixture": fixture["dir"], "process_s": process_s,
        # setup_s is the median of the three set-ups; the first is the
        # cold one, JVM start to session-ready plus warmup
        "setup_runs_s": out["setup_s"], "setup_cold_s": out["setup_s"][0],
        "passes_s": out["pass_s"],
        "failed_frac": len(failures) / max(1, attempted), "failures": failures,
        "end_to_end": e2e, **tail_info, **benchlib.workload_figures(out),
        # the tracer's own cost: listener callbacks in a traced run; an
        # untraced run installs nothing
        "trace_listener_ms": out["listener_ms"],
        "peak_rss_mb": out["peak_rss_mb"],
        "unattributed_jobs": out["unattributed_jobs"],
    }
    if args.trace:
        metrics = {k: {"value": v, "unit": benchlib.unit_of(k)}
                   for k, v in benchlib.per_layer(out).items()}
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    record["metrics"] = metrics
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump({**record, "spans": out["spans"], "extra": out["extra"]}, f, indent=1)
    for fl in failures:
        print(f"[perfbench] FAILED {fl['kind']} {fl['op']}: {fl['error']}", file=sys.stderr)
    summary = {k: v for k, v in record.items() if k not in ("metrics", "failures")}
    summary["failed_ops"] = [fl["op"] for fl in failures]
    print(json.dumps({"run_record": summary}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    sys.stdout.flush()
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
