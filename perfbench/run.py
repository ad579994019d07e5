#!/usr/bin/env python3
"""Benchmark runner: builds the repository and the harness, runs one workload
in a fresh JVM, checks every output, and prints the result as the last line
of standard output.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 40 --trace 0

Run from the root of a checkout. See perfbench/README.md.
"""

import argparse
import atexit
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SCRATCH_BASE = os.path.join(BUILD, "scratch")
RESULTS = os.path.join(BUILD, "results")
DATA = os.path.join(HERE, "data", "sf0.01")
GOLDEN = os.path.join(HERE, "golden.json")

WORKLOADS = ("crawl", "store_queries")
# a run (build excluded) is killed after this many seconds
RUN_LIMIT_S = 170
HEAP_MB = 3072
BUILD_LIMIT_S = 800

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

CHILDREN = []


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_fingerprint():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def jvm_base(classpath, scratch):
    # A fixed heap ceiling; the heap grows only as far as the program needs,
    # so peak_rss_mb (VmHWM) follows the memory the run actually touched.
    return (["java", "-Xmx%dm" % HEAP_MB]
            + [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
               "-Dspark.ui.enabled=false", "-Djava.io.tmpdir=" + scratch, "-cp", classpath])


def build(scratch):
    """Compile and package the repository and the harness with sbt, then
    record a class-data archive of a Spark session start-up. Done once per
    source state; returns (classpath, archive path)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("not a checkout of the repository: build.sbt or src/main/scala/graft missing")
    os.makedirs(BUILD, exist_ok=True)
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD, "classpath-%s.txt" % fp)
    jsa = os.path.join(BUILD, "classes-%s.jsa" % fp)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isfile(cp_file):
            log("perfbench: building ...")
            t0 = time.monotonic()
            env = dict(os.environ)
            env.setdefault("COURSIER_MODE", "offline")
            try:
                p = subprocess.run(
                    ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                     "compile", "export perfbench/Runtime/fullClasspathAsJars"],
                    cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                    stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S, text=True)
            except subprocess.TimeoutExpired:
                fail("build timed out")
            lines = [l for l in p.stdout.splitlines() if l.strip()]
            if p.returncode != 0 or not lines or lines[-1].startswith("["):
                sys.stderr.write(p.stdout[-4000:])
                fail("build failed")
            classpath = lines[-1].strip()
            for n in os.listdir(BUILD):
                if n.startswith(("classpath-", "classes-")):
                    os.remove(os.path.join(BUILD, n))
            # Spark's class loading is most of a cold start; the archive
            # roughly halves it. A stale or unusable archive is ignored by
            # the JVM, so it only ever changes start-up time.
            if os.path.exists(jsa):
                os.remove(jsa)
            subprocess.run(
                ["java", "-XX:ArchiveClassesAtExit=" + jsa] + jvm_base(classpath, scratch)[1:]
                + ["graft.perfbench.Main", "--workload", "setup", "--seed", "0", "--trace", "0",
                   "--scratch", scratch, "--out", os.path.join(scratch, "cds.json")],
                cwd=scratch, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
            with open(cp_file + ".tmp", "w") as f:
                f.write(classpath)
            os.replace(cp_file + ".tmp", cp_file)
            log("perfbench: built in %.1f s" % (time.monotonic() - t0))
        with open(cp_file) as f:
            return f.read().strip(), (jsa if os.path.isfile(jsa) else None)


# ---------------------------------------------------------------- scratch

def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def sweep_dead_roots():
    """Scratch roots are named after the run's PID; remove those whose run
    is gone (a run killed before its own clean-up)."""
    if not os.path.isdir(SCRATCH_BASE):
        return
    for name in os.listdir(SCRATCH_BASE):
        if name.isdigit() and not pid_alive(int(name)):
            shutil.rmtree(os.path.join(SCRATCH_BASE, name), ignore_errors=True)


def kill_children():
    for p in CHILDREN:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


# ---------------------------------------------------------------- box

def read_steal():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def box_start():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": round(mem_kb / 1024),
            "loadavg_start": load}


def git_sha():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return p.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- run

def run_jvm(classpath, jsa, scratch, workload, seed, trace, extra, deadline):
    """Launch the benchmark JVM and wait for it. Returns its result record,
    with `setup_s`: the wall time from the launch until its Spark session
    was ready."""
    out = os.path.join(scratch, "result-%s.json" % workload)
    base = jvm_base(classpath, scratch)
    cmd = (base[:1] + (["-XX:SharedArchiveFile=" + jsa] if jsa else []) + base[1:]
           + ["graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--trace", str(trace), "--scratch", scratch, "--out", out, "--data", DATA] + extra)
    launched = time.time()
    proc = subprocess.Popen(cmd, cwd=scratch, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    CHILDREN.append(proc)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        kill_children()
        fail("workload exceeded its time limit", 3)
    if not os.path.isfile(out):
        fail("benchmark JVM exited %d without a result" % code, 3)
    with open(out) as f:
        res = json.load(f)
    res["jvm_exit"] = code
    if "setup_ready_ms" in res:
        res["setup_s"] = res["setup_ready_ms"] / 1e3 - launched
    return res


# ---------------------------------------------------------------- checks

def load_golden():
    if not os.path.isfile(GOLDEN):
        return {}
    with open(GOLDEN) as f:
        return json.load(f)


def crawl_key(crawl):
    return {"trace_checksum": crawl["trace_checksum"], "trace_rows": crawl["trace_rows"],
            "seen": crawl["seen"]}


def check(res, golden, problems):
    """Count operations attempted and failed; a failed output check fails its
    operation. Appends one line per failed check to `problems`."""
    attempted = failed = 0
    if res["workload"] == "crawl":
        gold = golden.get("crawl", {}).get(str(res["seed"]))
        if "crawl" in res:
            attempted += 1
            k = crawl_key(res["crawl"])
            if gold is not None and k != gold:
                failed += 1
                problems.append("crawl differs from the uninterrupted golden crawl: %s vs %s" % (
                    k, gold))
    elif "pass" in res:
        gold = golden.get("store_queries", {})
        r = res["pass"]
        for q in r["order"]:
            attempted += 1
            if q in r["errors"]:
                failed += 1
                problems.append("%s threw %s" % (q, r["errors"][q]))
            elif r["outputs"][q] != gold.get(q):
                failed += 1
                problems.append("%s output %s, golden %s" % (q, r["outputs"][q], gold.get(q)))
    if "error" in res or res.get("jvm_exit") != 0:
        attempted += 1
        failed += 1
        problems.append("%s run threw: %s" % (res["workload"], res.get("error")))
    return max(attempted, 1), failed


# ---------------------------------------------------------------- report

# Workload-specific end-to-end figures, reported with the gated ones.
NAMED = {
    "crawl": ["step_s_p50", "step_s_max", "init_s", "snapshot_s", "resume_s", "bytes_per_url"],
    "store_queries": ["step_s_p50", "step_s_max", "dedup_s", "ann_s", "crawl_kernels_s", "store_scan_s"],
}
# Crawl counters; the query workload runs no crawl and reports them as 0.
CRAWL_COUNTS = ["crawler.fetched", "crawler.robots_fetched", "crawler.failed",
                "crawler.links_out", "sieve.dedup_in", "sieve.dedup_out", "sieve.pass_ratio",
                "sieve.dedup_in_last_round", "dedup.duplicates", "dedup.dup_ratio",
                "crawler.output_bytes", "commit.state_bytes"]


def end_to_end(res, setup_walls):
    m = {"setup_s": {"value": statistics.median(setup_walls) if setup_walls else None, "unit": "s",
                     "samples": len(setup_walls)},
         "peak_rss_mb": {"value": res.get("peak_rss_mb"), "unit": "MB", "samples": 1}}
    m.update(res.get("metrics", {}))
    return m


def previous_untraced(workload, seed):
    """job_s of the latest untraced run of this workload and seed, if any."""
    best = None
    if os.path.isdir(RESULTS):
        for n in os.listdir(RESULTS):
            if n.startswith("%s-%s-0-" % (workload, seed)):
                p = os.path.join(RESULTS, n)
                if best is None or os.path.getmtime(p) > os.path.getmtime(best):
                    best = p
    if best is None:
        return None
    with open(best) as f:
        d = json.load(f)
    return d.get("metrics", {}).get("job_s", {}).get("value") if d.get("correct") else None


def report_lines(res, spec, box, metrics, attempted, failed, problems):
    w = res["workload"]
    lines = ["perfbench: workload=%s seed=%s trace=%d" % (w, res["seed"], res["trace"]),
             "perfbench: box " + json.dumps(box, sort_keys=True)]
    shown = []
    for n in [e["name"] for e in spec["end_to_end"]] + NAMED[w]:
        if n in metrics and n not in shown:
            shown.append(n)
            x = metrics[n]
            lines.append("  %-18s %14.6g %-5s (%d sample%s)" % (
                n, x["value"] if x["value"] is not None else float("nan"), x["unit"],
                x["samples"], "" if x["samples"] == 1 else "s"))
    lines.append("  %-18s %14.6g       (%d failed of %d attempted)" % (
        "fail_ratio", failed / attempted, failed, attempted))
    if w == "crawl" and "crawl" in res:
        c = res["crawl"]
        lines.append("  round walls %s s; sieve gate per round (probeThreshold %d):" % (
            ["%.2f" % x for x in c["round_walls_s"]], res["probe_threshold"]))
        for x in c["sieve_rounds"]:
            lines.append("    round %d: dedup_in %d, seen at start %d, present bound %d -> %s" % (
                x["round"], x["dedup_in"], x["seen_at_start"], x["present_upper"], x["branch"]))
    for p in problems:
        lines.append("  FAILED CHECK: " + p)
    return lines


def suspect_flags(res, box, metrics):
    """Figures that cannot be right on a healthy box. Flagged runs are
    reported like any other; nothing is dropped."""
    s = []
    occ = res.get("layers", {}).get("spark.occupancy")
    if occ is not None and occ > 1.0:
        s.append("spark.occupancy %.3f > 1" % occ)
    for n, x in metrics.items():
        if x.get("value") is None or x["value"] <= 0:
            s.append("%s is %s" % (n, x.get("value")))
    if box["steal_s"] > 0.05 * box["wall_s"] * box["nproc"]:
        s.append("cpu steal %.1f s in %.1f s wall" % (box["steal_s"], box["wall_s"]))
    if res.get("trace") and res.get("span_coverage", 0.0) < 0.95:
        s.append("span coverage %.3f < 0.95" % res.get("span_coverage", 0.0))
    return s


def record_golden(res, golden):
    w = res["workload"]
    if res.get("jvm_exit") != 0 or "error" in res:
        fail("run failed; golden not recorded: %s" % res.get("error"))
    if w == "store_queries":
        r = res["pass"]
        if r["errors"]:
            fail("a query failed; golden not recorded: %s" % r["errors"])
        golden["store_queries"] = r["outputs"]
    else:
        golden.setdefault(w, {})[str(res["seed"])] = crawl_key(res["crawl"])
    with open(GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    log("perfbench: recorded golden for %s seed %s" % (w, res["seed"]))


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="nominal length of the measured operation; a run measures one "
                         "operation, which takes about 40 s on either workload")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="record this run's outputs in golden.json (the crawl runs uncut)")
    ap.add_argument("--selftest", action="store_true",
                    help="store_queries with a corrupted golden and a throwing query; passes "
                         "only if both count as failed and the run would exit non-zero")
    args = ap.parse_args()
    if args.selftest and args.workload != "store_queries":
        fail("--selftest runs the store_queries workload")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    sweep_dead_roots()
    scratch = os.path.join(SCRATCH_BASE, str(os.getpid()))
    os.makedirs(scratch, exist_ok=True)
    atexit.register(lambda: (kill_children(), shutil.rmtree(scratch, ignore_errors=True)))
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, lambda *a: sys.exit(4))

    t_build = time.monotonic()
    classpath, jsa = build(scratch)
    built = time.monotonic() - t_build > 5

    box = box_start()
    steal0 = read_steal()
    extra = (["--uninterrupted"] if args.record_golden and args.workload == "crawl" else []) + \
        (["--inject-failure"] if args.selftest else [])
    t0 = time.monotonic()
    deadline = (t0 if built else t_start) + RUN_LIMIT_S
    # set-up is measured twice: in a JVM that only sets up, then in the
    # benchmark JVM itself
    setup_only = run_jvm(classpath, jsa, scratch, "setup", 0, 0, [], deadline)
    if setup_only["jvm_exit"] != 0 or "error" in setup_only:
        fail("the set-up JVM failed: %s" % setup_only.get("error"), 3)
    res = run_jvm(classpath, jsa, scratch, args.workload, args.seed, args.trace, extra, deadline)
    setup_walls = [x["setup_s"] for x in (setup_only, res) if "setup_s" in x]
    box.update({"wall_s": round(time.monotonic() - t0, 3),
                "steal_s": (read_steal() - steal0) / os.sysconf("SC_CLK_TCK"),
                "jdk": res.get("jdk_version"), "spark": res.get("spark_version"),
                "git_sha": git_sha(), "source_fingerprint": source_fingerprint()})

    golden = load_golden()
    if args.record_golden:
        record_golden(res, golden)
        return 0
    if args.selftest:
        first = sorted(golden.get("store_queries", {}))[0]
        golden["store_queries"][first] = dict(golden["store_queries"][first], checksum="0")
    problems = []
    attempted, failed = check(res, golden, problems)
    correct = failed == 0
    metrics = end_to_end(res, setup_walls)
    lines = report_lines(res, spec, box, metrics, attempted, failed, problems)
    suspect = suspect_flags(res, box, metrics)

    if args.trace:
        layers = res.get("layers", {})
        layers["trace.coverage"] = res.get("span_coverage")
        for n in CRAWL_COUNTS:
            layers.setdefault(n, 0.0)
        out = {e["name"]: {"value": layers.get(e["name"]), "unit": e["unit"]}
               for e in spec["per_layer"]}
        k = res.get("kernel_sieve_probe")
        if k:
            lines.append("  kernel.sieve_probe: %d candidates, seen %d, present bound %d, present %d, "
                         "probeThreshold %d -> %s" % (k["candidates"], k["seen"], k["present_upper"],
                                                     k["present"], k["probe_threshold"], k["branch"]))
        base = previous_untraced(args.workload, args.seed)
        if base:
            lines.append("  trace_overhead_ratio %.4f (traced job_s %.3f / untraced %.3f)" % (
                metrics["job_s"]["value"] / base, metrics["job_s"]["value"], base))
        else:
            lines.append("  trace_overhead_ratio: no untraced run of this seed recorded yet")
        for n in sorted(layers):
            if n not in out:
                lines.append("  %-44s %14.6g" % (n, layers[n]))
        spans = res.get("spans", [])
        lines.append("perfbench: %d spans (run id %s), coverage of the workload span %.4f; "
                     "self time by span name:" % (len(spans), res.get("run_id"),
                                                   res.get("span_coverage", 0.0)))
        by = {}
        for s in spans:
            key = s["name"].split("[")[0]
            by[key] = by.get(key, 0.0) + s["self_s"]
        for k in sorted(by, key=lambda k: -by[k])[:30]:
            lines.append("  self %-36s %10.3f s" % (k, by[k]))
    else:
        out = {e["name"]: {"value": metrics.get(e["name"], {}).get("value"), "unit": e["unit"]}
               for e in spec["end_to_end"]}
    lines.append("perfbench: suspect=%s%s" % (bool(suspect), (" (" + "; ".join(suspect) + ")")
                                                 if suspect else ""))

    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, "%s-%s-%d-%d.json" % (
            args.workload, args.seed, args.trace, os.getpid())), "w") as f:
        json.dump(dict(res, metrics=metrics, box=box, checks=problems, suspect=suspect,
                       correct=correct, attempted=attempted, failed=failed), f)

    print("\n".join(lines))
    if args.selftest:
        ok = failed >= 2 and not correct
        print("perfbench: selftest %s (%d failed of %d attempted)" % (
            "passed" if ok else "FAILED", failed, attempted))
        return 0 if ok else 1
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
