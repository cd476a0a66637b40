#!/usr/bin/env python3
"""Prints the last benchmark results by metric name with units, and
ranks the query_mix queries by how much of their wall time the driver
and the scheduler take.

Usage: python3 perfbench/report.py [work_dir]

Reads <work_dir>/<workload>/result-trace{0,1}.json, written by
perfbench/run.py, and the trace file a traced query_mix run leaves
there. work_dir defaults to perfbench/work.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def print_results(work):
    for path in sorted(glob.glob(os.path.join(work, "*", "result-trace*.json"))):
        with open(path) as f:
            r = json.load(f)
        kind = "per-layer" if path.endswith("trace1.json") else "end-to-end"
        print(f"== {r['workload']} (seed {r['seed']}, {kind}): correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']}")
        for name, m in r["metrics"].items():
            print(f"  {name:40s} {m['value']:>16.6g} {m['unit']}")


def query_ranking(work):
    """Per query, over the traced passes: driver gap (wall outside any
    Spark job) and scheduler delay (stage wall beyond its slowest task),
    each as a share of the query's wall time."""
    traces = sorted(glob.glob(os.path.join(work, "query_mix", "trace-query_mix-*.jsonl")))
    if not traces:
        return
    per = {}
    with open(traces[-1]) as f:
        for line in f:
            s = json.loads(line)
            if not s["name"].startswith("query:"):
                continue
            q = per.setdefault(s["name"][len("query:"):], [0.0, 0.0, 0.0, 0.0, 0])
            a = s["attrs"]
            q[0] += (s["end_ns"] - s["start_ns"]) / 1e6
            q[1] += a.get("driver_gap_ms", 0.0)
            q[2] += a.get("scheduler_delay_ms", 0.0)
            q[3] += a.get("jobs", 0.0)
            q[4] += 1
    # wall time and jobs per traced pass; shares over all traced passes
    rows = [(n, w / k, g / w, d / w, j / k) for n, (w, g, d, j, k) in per.items() if w > 0]
    for title, key in (("driver gap share", 2), ("scheduler delay share", 3)):
        print(f"== query_mix ranked by {title} ({os.path.basename(traces[-1])})")
        print(f"  {'query':32s} {'wall_ms':>9s} {'gap':>6s} {'sched':>6s} {'jobs':>5s}")
        for n, w, g, d, j in sorted(rows, key=lambda r: -r[key]):
            print(f"  {n:32s} {w:9.1f} {g:6.1%} {d:6.1%} {j:5.0f}")


if __name__ == "__main__":
    work_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, "work")
    print_results(work_dir)
    query_ranking(work_dir)
