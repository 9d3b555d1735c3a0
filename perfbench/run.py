#!/usr/bin/env python3
"""The repo benchmark: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke

The first call in a checkout compiles the engine (`src/main/scala`) and
the harness (`perfbench/harness`) with the Scala compiler that ships
with Spark, into `perfbench/.build`; later calls reuse the classes while
the sources are unchanged. Each run starts one JVM with one SparkSession
at local[nproc], warms it up (untimed), runs whole passes over the
workload's operations for at least `--seconds` seconds, and checks every
output against an oracle that does not use the engine.

With `--trace 0` the last stdout line carries the end-to-end metrics;
with `--trace 1` untraced and traced passes alternate and it carries the
per-layer metrics. Metric names and units come from BENCHMARK.json; the
lines before the last list every metric with its unit, and the full
result (run configuration included) is written under perfbench/.work.
The exit code is 0 when every operation succeeded and matched its
oracle, 1 when some failed (the result line is still printed), and 2
when the benchmark could not run at all (no result line).
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import uuid
from pathlib import Path

import etl_gen
import oracle

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"
CONFIG = json.loads((HERE / "config.json").read_text())
WORKLOADS = ("etl_daily", "registry")

# the module opens Spark 4 needs on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    """The benchmark cannot run; no result is printed."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jars of the Spark distribution named by $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BenchError("SPARK_HOME is not set")
    jars = Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BenchError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def build():
    """Compiles engine + harness when their sources changed; returns the
    runtime classpath and the source digest."""
    engine = sorted((ROOT / "src/main/scala").rglob("*.scala"))
    if not engine:
        raise BenchError("no engine sources under src/main/scala")
    resources = ROOT / "src/main/resources"
    sources = engine + sorted((HERE / "harness").glob("*.scala"))
    h = hashlib.sha256()
    for f in sources + sorted(p for p in resources.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    digest = h.hexdigest()
    jars = spark_jars()
    classes = BUILD / "classes"
    stamp = BUILD / "stamp"
    if not (stamp.exists() and stamp.read_text() == digest):
        log(f"compiling {len(sources)} sources")
        shutil.rmtree(BUILD, ignore_errors=True)
        classes.mkdir(parents=True)
        (BUILD / "sources.txt").write_text("\n".join(str(s) for s in sources) + "\n")
        t0 = time.time()
        r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
                            "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                            "-usejavacp", "-nowarn", "-d", str(classes), f"@{BUILD / 'sources.txt'}"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
        if r.returncode != 0:
            raise BenchError("compile failed:\n" + r.stdout[-4000:])
        stamp.write_text(digest)
        log(f"compiled in {time.time() - t0:.1f} s")
    return f"{classes}:{resources}:{jars}/*", digest


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    return Path("/proc/loadavg").read_text().split()[:3]


def steal_s():
    """CPU time stolen by the hypervisor since boot, in seconds."""
    return int(Path("/proc/stat").read_text().split("\n")[0].split()[8]) / os.sysconf("SC_CLK_TCK")


def java_pids():
    pids = set()
    for p in Path("/proc").iterdir():
        try:
            if p.name.isdigit() and (p / "comm").read_text().strip() == "java":
                pids.add(int(p.name))
        except OSError:
            pass
    return pids


def git_sha():
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None


def run_jvm(classpath, work, args, timeout):
    """Runs the harness; returns (parsed PB lines, spawn epoch, run config)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    # measure the engine's own defaults for shuffle partitions and codec
    unset = [k for k in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_IO_CODEC") if env.pop(k, None)]
    cmd = ["java", f"-Xms{CONFIG['heap']}", f"-Xmx{CONFIG['heap']}", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Harness", *[f"{k}={v}" for k, v in args.items()]]
    siblings = java_pids()
    before = loadavg()
    steal0 = steal_s()
    spawn = time.time()
    with open(work / "jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"harness JVM exceeded {timeout} s")
    lines = [json.loads(l[3:]) for l in out.splitlines() if l.startswith("PB ")]
    if proc.returncode != 0 or not lines or lines[-1]["kind"] != "end":
        tail = (work / "jvm.log").read_text()[-3000:]
        raise BenchError(f"harness JVM exited with {proc.returncode}:\n{tail}")
    run = {"seed": args.get("seed"), "nproc": nproc(), "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
           "unset_env": unset, "heap": CONFIG["heap"], "loadavg_before": before,
           "loadavg_after": loadavg(), "cpu_steal_s": steal_s() - steal0,
           "sibling_jvm_alive": bool(siblings), "git_sha": git_sha()}
    return lines, spawn, run


def of(lines, kind):
    return [l for l in lines if l["kind"] == kind]


def summarize(lines, spawn, failed_ops, extra_attempts, trace):
    """Turns the harness lines into metrics. `failed_ops(line)` says
    whether a timed operation failed its check."""
    ops = of(lines, "op")
    passes = [p for p in of(lines, "pass") if not p["settle"]]
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    traced = [p["wall_s"] for p in passes if p["traced"]]
    lat = [o["wall_s"] for o in ops if not o["traced"] and not o["settle"]]
    failed = sum(1 for o in ops if failed_ops(o)) + extra_attempts[1]
    attempted = len(ops) + extra_attempts[0]
    setup = of(lines, "setup_done")[0]
    mem = of(lines, "memory")[0]
    m = {
        "setup_s": setup["epoch_ms"] / 1e3 - spawn,
        "wall_s": statistics.median(untraced),
        "latency_p50_s": statistics.median(lat),
        "peak_rss_mb": mem["peak_rss_mb"],
        "failed_ratio": failed / attempted,
        "samples": len(lat),
        "passes": len(untraced),
    }
    layers = of(lines, "layers")
    if trace and layers:
        keys = [k for k in layers[0] if k not in ("kind", "pass", "ops")]
        for k in keys:
            m[k] = statistics.median(l.get(k, 0.0) for l in layers)
        for k in {k for l in layers for k in l if k.startswith("callsite.")} - set(keys):
            m[k] = statistics.median(l.get(k, 0.0) for l in layers)
        m["session.start_s"] = setup["session_start_s"]
        m["jvm.peak_heap_mb"] = mem["peak_heap_mb"]
        m["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        m["trace.passes"] = len(traced)
    return m, attempted, failed


def run_registry(name, seed, seconds, trace, classpath, passes, sf=None):
    cfg = CONFIG[name]
    sf = sf or cfg["sf"]
    data = HERE / "data" / sf
    if not (data / "lineitem.parquet").exists():
        raise BenchError(f"missing benchmark tables under {data}")
    order = list(cfg["queries"])
    random.Random(seed).shuffle(order)
    work = WORK / name
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    run_id = uuid.uuid4().hex
    lines, spawn, run = run_jvm(classpath, work, {
        "workload": name, "data": data, "work": work, "ops": ",".join(order),
        "seconds": seconds, **passes, "trace": int(trace), "run_id": run_id,
        "seed": seed}, CONFIG["jvm_timeout_s"])
    warm = of(lines, "warmup")
    frozen = CONFIG["frozen_rows"].get(sf, {})
    checks = oracle.check(str(data), str(work / "check"), of(lines, "oracle")[0]["sql"], frozen)
    for w in warm:
        if not w["ok"]:
            checks[w["name"]] = "warm-up error: " + w["err"]
    bad = {q: e for q, e in checks.items() if e}
    for q, e in sorted(bad.items()):
        log(f"{name} {q}: FAILED {e}")
    m, attempted, failed = summarize(
        lines, spawn, lambda o: not o["ok"] or o["name"] in bad, (len(warm), len(bad)), trace)
    groups = cfg.get("groups", {})
    for g, qs in groups.items():
        per_pass = {}
        for o in of(lines, "op"):
            if not o["traced"] and not o["settle"] and o["name"] in qs:
                per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["wall_s"]
        m[f"group.{g}.wall_s"] = statistics.median(per_pass.values())
    return m, attempted, failed, run, lines, {"order": order, "checks": checks, "sf": sf, "run_id": run_id,
                                            "warmup_s": {w["name"]: w["wall_s"] for w in warm}}


def run_etl(seed, seconds, trace, classpath, passes, days=None, taps=None):
    cfg = CONFIG["etl_daily"]
    n_days = days or cfg["days"]
    d0 = dt.date.fromisoformat(cfg["first_day"])
    day_list = [(d0 + dt.timedelta(days=i)).isoformat() for i in range(n_days)]
    work = WORK / "etl_daily"
    shutil.rmtree(work, ignore_errors=True)
    (work / "dwh").mkdir(parents=True)
    expected = etl_gen.generate(seed, work / "csv", day_list, taps or cfg["taps_per_day"])
    run_id = uuid.uuid4().hex
    lines, spawn, run = run_jvm(classpath, work, {
        "workload": "etl_daily", "data": work / "csv", "work": work, "ops": ",".join(day_list),
        "seconds": seconds, **passes, "trace": int(trace), "run_id": run_id,
        "seed": seed}, CONFIG["jvm_timeout_s"])
    bad_days = {}
    dims_errors = etl_gen.check_dims(expected, work / "dwh")
    for d in day_list:
        errs = etl_gen.check_day(expected, work / "dwh", d) + dims_errors
        if errs:
            bad_days[d] = errs
    warm = of(lines, "warmup")
    warm_failed = 0
    for w in warm:
        errs = ["warm-up error: " + w["err"]] if not w["ok"] else etl_gen.check_report(expected, w["name"], w["info"])
        if errs:
            warm_failed += 1
            bad_days.setdefault(w["name"], []).extend(errs)

    def op_failed(o):
        errs = ([o["err"]] if not o["ok"] else etl_gen.check_report(expected, o["name"], o["info"]))
        if errs:
            bad_days.setdefault(o["name"], []).extend(errs)
        return bool(errs) or o["name"] in bad_days
    m, attempted, failed = summarize(lines, spawn, op_failed, (len(warm), warm_failed), trace)
    for d, errs in sorted(bad_days.items()):
        log(f"etl_daily {d}: FAILED {'; '.join(sorted(set(errs)))[:600]}")
    m["rows_per_s"] = expected["rows_in"] / m["wall_s"]
    if trace:
        traced_ops = [o for o in of(lines, "op") if o["traced"] and o["ok"]]
        passes = sorted({o["pass"] for o in traced_ops})
        out = [sum(o["info"]["bus_rows"] + o["info"]["halte_rows"] for o in traced_ops if o["pass"] == p)
               for p in passes]
        m["etl.rows_in"] = expected["rows_in"]
        m["etl.rows_out"] = statistics.median(out) if out else 0
        m["etl.rows_rejected"] = m["etl.rows_in"] - m["etl.rows_out"]
    return m, attempted, failed, run, lines, {"days": day_list, "failed_days": bad_days, "run_id": run_id}


def run_one(workload, seed, seconds, trace, classpath, smoke=False):
    s = CONFIG["smoke"] if smoke else {}
    # a traced run makes two rounds (UT, TU) for its overhead estimate
    passes = {"passes": 1 if smoke else max(CONFIG[workload]["min_passes"], 2 * trace),
              "settle": s.get("settle", CONFIG["settle_passes"])}
    if workload == "etl_daily":
        return run_etl(seed, seconds, trace, classpath, passes, s.get("days"), s.get("taps_per_day"))
    return run_registry(workload, seed, seconds, trace, classpath, passes, s.get("sf"))


def report(workload, seed, trace, classpath, digest, result):
    m, attempted, failed, run, lines, detail = result
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    units = {x["name"]: x["unit"] for x in bench["end_to_end"] + bench["per_layer"]}
    missing = [x["name"] for x in wanted if x["name"] not in m]
    if missing:
        raise BenchError(f"metrics not measured: {missing}")
    config = dict(of(lines, "config")[0])
    config.pop("kind")
    config.update(run, source_digest=digest, workload=workload, trace=trace)
    detail["ops"] = [[o["pass"], o["traced"], o["name"], o["wall_s"], o["ok"]] for o in of(lines, "op")]
    full = {"config": config, "attempted": attempted, "failed": failed, "metrics": m, "detail": detail}
    out = WORK / "results"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{workload}-seed{seed}-trace{int(trace)}.json"
    path.write_text(json.dumps(full, indent=1, default=str))
    trace_file = of(lines, "trace_file")
    if trace_file:
        shutil.copy(trace_file[0]["path"], out / f"{workload}-seed{seed}-spans.json")
    for k in sorted(m):
        print(f"{workload:15s} {k:34s} {m[k]:>16.6g} {units.get(k, '')}")
    print(f"{workload:15s} {'config':34s} {json.dumps(config, default=str)}")
    print(f"{workload:15s} full result: {path}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {x["name"]: {"value": m[x["name"]], "unit": x["unit"]} for x in wanted}}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="both workloads, traced, on sf0.001 and a tiny ETL input")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke is given")
    try:
        classpath, digest = build()
        if a.smoke:
            bad = 0
            for w in WORKLOADS:
                res = report(w, a.seed, True, classpath, digest,
                             run_one(w, a.seed, CONFIG["smoke"]["seconds"], True, classpath, smoke=True))
                log(f"smoke {w}: attempted {res['attempted']} failed {res['failed']}")
                bad += res["failed"]
            return 1 if bad else 0
        res = report(a.workload, a.seed, bool(a.trace), classpath, digest,
                     run_one(a.workload, a.seed, a.seconds, bool(a.trace), classpath))
    except BenchError as e:
        log(f"ERROR: {e}")
        return 2
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
