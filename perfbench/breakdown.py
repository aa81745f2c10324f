#!/usr/bin/env python3
"""Planning-vs-dispatch breakdown of the sub-second queries of a traced run.

    python3 perfbench/breakdown.py .bench_build/runs/<run>/record.json [limit_s]

For every query under `limit_s` (default 1 s) it splits the wall time
into the Q call (queries.build), forced physical planning
(catalyst.plan), action time with no task running (scheduler.idle) and
the rest of the action, and prints the per-query medians and the sums
as a Markdown table, plus task time and job counts.
"""
import json
import statistics
import sys


def rows(record, limit_s):
    out = []
    for s in record["spans"]:
        if not s["measured"] or s["kind"] != "query" or s["wall_s"] >= limit_s:
            continue
        ph, tr = s["phases_ms"], s["trace"]
        wall = 1000 * s["wall_s"]
        build, plan = ph.get("queries.build", 0.0), ph.get("catalyst.plan", 0.0)
        action = ph.get("execute", 0.0)
        idle = min(tr.get("idle_ms", 0.0), action)
        out.append({"wall": wall, "build": build, "plan": plan, "idle": idle,
                    "busy": action - idle, "task": tr.get("task_ms", 0.0),
                    "jobs": tr.get("jobs", 0.0), "build_jobs": tr.get("build_jobs", 0.0)})
    return out


def main():
    path = sys.argv[1]
    limit_s = float(sys.argv[2]) if len(sys.argv) > 2 else 1.0
    with open(path) as f:
        record = json.load(f)
    rs = rows(record, limit_s)
    if not rs:
        print("no traced query under the limit")
        return 1
    cols = [("wall", "wall ms"), ("build", "queries.build_ms"), ("plan", "catalyst.plan_ms"),
            ("idle", "scheduler.idle_ms"), ("busy", "action with tasks ms"),
            ("task", "exec.task_ms"), ("jobs", "jobs"), ("build_jobs", "jobs in Q call")]
    print(f"{len(rs)} queries under {limit_s:g} s, {record['workload']} seed {record['seed']}, "
          f"width {record['width']}, job_overhead_us {record['job_overhead_us']:.0f}\n")
    print("| | " + " | ".join(c[1] for c in cols) + " |")
    print("|---" * (len(cols) + 1) + "|")
    for label, fn in (("median per query", statistics.median), ("sum", sum)):
        print(f"| {label} | " + " | ".join(f"{fn([r[k] for r in rs]):.0f}" for k, _ in cols)
              + " |")
    total = sum(r["wall"] for r in rs)
    shares = {k: sum(r[k] for r in rs) / total for k in ("build", "plan", "idle", "busy")}
    print("\nshare of wall: " + ", ".join(f"{k} {v:.0%}" for k, v in shares.items()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
