#!/usr/bin/env python3
"""Paired benchmark runs of a parent and a change checkout.

    python3 tools/bench_pairs.py --parent ../parent --change . \\
        --workload registry --pairs 10 [--first-seed 1] [--json out.json]

For each seed N in [first-seed, first-seed + pairs) it runs

    python3 perfbench/run.py --workload W --seed N --trace 0

once in each checkout, one after the other (run.py's own default run
length applies): the parent first on odd
seeds, the change first on even ones. It then prints, for every
end-to-end metric that BENCHMARK.json (read from the change checkout)
declares:

  - each side's first quartile, median and third quartile;
  - how many pairs the change wins (ties count for neither side);
  - the median of the per-pair ratios change / parent;
  - the parent's quartile distance over its median, against the
    metric's bound. A spread above the bound makes the metric
    unresolved, whatever the medians say.

Every run's values, timed-pass count, failed operations and oracle
result are printed as they arrive. run.py takes `wall_s` as the median
over however many timed passes fit its run, so a pair whose two sides
timed a different number of passes compares unlike medians: its change
line ends in `PASSES DIFFER`, and the summary counts such pairs. A run
that prints no result line stops the tool.

After the timed pairs it makes one traced run per side
(`--trace 1`, the first seed, parent first) and prints their
count metrics side by side: exec.jobs, exec.stages, exec.tasks,
op.build_jobs and every callsite.<Class>.jobs (a missing one reads 0),
so a change can cite its job counts from the same tool as its pairs.
Only the Python standard library is used; perfbench/ is run, never
modified.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


JOB_COUNTS = ["exec.jobs", "exec.stages", "exec.tasks", "op.build_jobs"]


def run_once(checkout, workload, seed, trace=0):
    """One benchmark run; returns its parsed result line and the metrics
    of run.py's full result file (which also carry `passes`)."""
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    files = [l.split("full result:", 1)[1].strip() for l in p.stdout.splitlines()
             if "full result:" in l]
    if not lines or not files:
        sys.exit(f"no result from {checkout} (seed {seed}, trace {trace}, exit {p.returncode})")
    return json.loads(lines[-1]), json.loads((Path(checkout) / files[-1]).read_text())["metrics"]


def job_counts(checkout, workload, seed):
    """One traced run; its job counts, read from run.py's full result file."""
    _, metrics = run_once(checkout, workload, seed, trace=1)
    return {k: v for k, v in metrics.items()
            if k in JOB_COUNTS or (k.startswith("callsite.") and k.endswith(".jobs"))}


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(metrics, runs):
    """One line per metric; `runs` is a list of (seed, parent, change)."""
    out = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [r[1]["metrics"][name]["value"] for r in runs]
        chg = [r[2]["metrics"][name]["value"] for r in runs]
        wins = sum(1 for p, c in zip(par, chg) if (c < p if lower else c > p))
        ratio = statistics.median(c / p for p, c in zip(par, chg))
        pq, cq = quartiles(par), quartiles(chg)
        spread = (pq[2] - pq[0]) / pq[1]
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        out.append({
            "metric": name, "parent_q1_med_q3": pq, "change_q1_med_q3": cq,
            "change_wins": wins, "pairs": len(runs), "median_ratio": ratio,
            "parent_spread": spread, "bound": m["bound"],
            "resolved": spread <= m["bound"],
            "median_gap_beyond_parent_iqr": gap > pq[2] - pq[0]})
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--json", help="also write every run and the summary here")
    a = ap.parse_args()
    if a.pairs < 2:
        sys.exit("--pairs must be at least 2 (quartiles need two runs a side)")

    metrics = json.loads((Path(a.change) / "BENCHMARK.json").read_text())["end_to_end"]
    names = [m["name"] for m in metrics]
    runs = []
    for seed in range(a.first_seed, a.first_seed + a.pairs):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        got = {}
        for side in order:
            r, full = run_once(getattr(a, side), a.workload, seed)
            got[side] = {**r, "passes": int(full["passes"])}
        runs.append((seed, got["parent"], got["change"]))
        differ = got["parent"]["passes"] != got["change"]["passes"]
        for side in ("parent", "change"):
            r = got[side]
            vals = " ".join(f"{n}={r['metrics'][n]['value']:.3f}" for n in names)
            mark = "  PASSES DIFFER" if differ and side == "change" else ""
            print(f"seed {seed:3d} {side:6s} {vals} passes={r['passes']} "
                  f"failed={r['failed']}/{r['attempted']} correct={r['correct']}{mark}",
                  flush=True)

    summary = summarize(metrics, runs)
    print(f"\n{a.workload}: {len(runs)} pairs, seeds {a.first_seed}-{a.first_seed + a.pairs - 1}, "
          f"order alternating by seed parity (odd: parent first)")
    for s in summary:
        pq, cq = s["parent_q1_med_q3"], s["change_q1_med_q3"]
        print(f"{s['metric']:14s} parent {pq[0]:.3f}/{pq[1]:.3f}/{pq[2]:.3f}  "
              f"change {cq[0]:.3f}/{cq[1]:.3f}/{cq[2]:.3f}  "
              f"wins {s['change_wins']}/{s['pairs']}  ratio x{s['median_ratio']:.3f}  "
              f"parent spread {s['parent_spread']:.3f} vs bound {s['bound']} "
              f"({'resolved' if s['resolved'] else 'UNRESOLVED'})  "
              f"median gap {'>' if s['median_gap_beyond_parent_iqr'] else '<='} parent IQR")
    failed = [(seed, side) for seed, p, c in runs for side, r in (("parent", p), ("change", c))
              if r["failed"] or not r["correct"]]
    print(f"runs with failed operations or a failed oracle: {failed or 'none'}")
    differ = [seed for seed, p, c in runs if p["passes"] != c["passes"]]
    print(f"pairs whose sides timed a different number of passes: {differ or 'none'}")

    counts = {side: job_counts(getattr(a, side), a.workload, a.first_seed)
              for side in ("parent", "change")}
    callsites = sorted((counts["parent"].keys() | counts["change"].keys()) - set(JOB_COUNTS))
    print(f"\n{a.workload}: job counts of one traced run a side (--trace 1, seed {a.first_seed})")
    print(f"{'metric':28s} {'parent':>8s} {'change':>8s}")
    for k in JOB_COUNTS + callsites:
        p, c = (counts[side].get(k, 0.0) for side in ("parent", "change"))
        print(f"{k:28s} {p:8g} {c:8g}")
    if a.json:
        Path(a.json).write_text(json.dumps(
            {"workload": a.workload, "runs": [{"seed": s, "parent": p, "change": c}
                                              for s, p, c in runs],
             "summary": summary, "job_counts": counts}, indent=1))


if __name__ == "__main__":
    main()
