#!/usr/bin/env python3
"""Per-operation "where the time goes" table from a traced run's spans.

    python3 perfbench/where_time_goes.py perfbench/.work/results/registry-seed1-spans.json

For every operation it prints the median, over the traced passes, of:
- the operation wall;
- build (query function or Dims.run);
- planning (the sink's QueryPlanningTracker phases);
- the union of its Spark job intervals;
- the driver gap, which is the wall minus that union;
- its job count.
"""
import json
import statistics
import sys
from collections import defaultdict


def union(intervals):
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (cur[1] - cur[0] if cur else 0.0)


def table(spans):
    by_id = {s["id"]: s for s in spans}
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    def below(sid):
        for k in kids[sid]:
            yield k
            yield from below(k["id"])

    rows = defaultdict(lambda: defaultdict(list))
    for op in (s for s in spans if s["name"] == "op"):
        sub = list(below(op["id"]))
        jobs = [(j["start_ms"], j["end_ms"]) for j in sub if j["name"] == "job"]
        wall = op["end_ms"] - op["start_ms"]
        r = rows[op["attrs"]["name"]]
        r["wall"].append(wall)
        r["build"].append(sum(c["end_ms"] - c["start_ms"] for c in kids[op["id"]] if c["name"] == "build"))
        r["plan"].append(sum(p["end_ms"] - p["start_ms"] for p in sub if p["name"].startswith("plan.")))
        r["jobs"].append(union(jobs))
        r["driver"].append(wall - union(jobs))
        r["n"].append(len(jobs))
    cols = ("wall", "build", "plan", "jobs", "driver")
    out = ["| operation | wall s | build s | plan s | job union s | driver gap s | jobs |",
           "|---|---|---|---|---|---|---|"]
    for name, r in sorted(rows.items(), key=lambda kv: -statistics.median(kv[1]["wall"])):
        vals = " | ".join(f"{statistics.median(r[c]) / 1e3:.3f}" for c in cols)
        out.append(f"| {name} | {vals} | {statistics.median(r['n']):.0f} |")
    return "\n".join(out)


if __name__ == "__main__":
    print(table(json.load(open(sys.argv[1]))["spans"]))
