#!/usr/bin/env python3
"""graft's benchmark: one command, two closed-loop single-client workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload ci_pr --seed 1 --seconds 15 --trace 0

Workloads: ci_pr and registry (see perfbench/README.md).
The benchmark builds graft through the repository's root build and its own
harness (perfbench/build.sbt), reusing the build while no source changed. It then starts one JVM (perfbench.Harness) that sets the workload
up, warms it up, times whole passes over the op list, and writes raw
samples; this script checks outputs against the DuckDB oracle
(tools/check.py) and prints one JSON line as the last line of stdout.

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics of a traced run (listeners and a counting file system attached) and
writes its spans to .bench_build/traces/.

Inputs: the sf0.1 parquet tables beside graft's default input directory
(graft.CliConfig().sfDir); PERFBENCH_DATA names another directory. The seed
drives only the generated inputs: the PRs' edit sets and the op order.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ci_pr", "registry")
DEADLINE_S = 175  # every invocation must end within 180 s

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in inputs:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile graft + harness once per source state; return the classpath,
    the source stamp and whether this call compiled."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) are missing; run from a "
             "checkout of the repository")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp, False
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
        " -Dsbt.offline=true -Xmx2g"))
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=max(10, deadline - time.time()))
    with open(log) as f:
        lines = [ln.strip() for ln in f]
    cps = [ln for ln in lines if os.pathsep in ln and ".jar" in ln
           and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed (see {log})", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], stamp, True


def run_jvm(cp, a, work, out, deadline, extra=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if a.trace:
        cp = os.path.join(HERE, "trace-conf") + os.pathsep + cp
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Harness",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out or "",
            "--nproc", str(len(os.sched_getaffinity(0))), *extra]
    if "PERFBENCH_DATA" in os.environ:
        cmd += ["--data", os.environ["PERFBENCH_DATA"]]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL,
                               timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("harness exceeded the time limit", 4)
    if r.returncode != 0 or (out and not os.path.exists(out)):
        with open(log) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"harness failed with exit code {r.returncode}", 4)
    if out:
        with open(out) as f:
            return json.load(f)


def ci_fixture(cp, stamp, a, deadline):
    """The ci_pr prod warehouse for this source state, built on first use
    in its own JVM so that no timed run's setup_s includes it."""
    root = os.path.join(BUILD, "fixtures")
    fixture = os.path.join(root, "ci_pr-" + stamp[:16])
    if os.path.isdir(fixture):
        return fixture
    shutil.rmtree(root, ignore_errors=True)
    staging = fixture + ".staging"
    os.makedirs(staging)
    run_jvm(cp, a, staging, None, deadline, ["--build-fixture", staging])
    shutil.rmtree(os.path.join(staging, "tmp"))
    os.remove(os.path.join(staging, "jvm.log"))
    os.rename(staging, fixture)
    return fixture


def oracle_failures(raw, check_dir):
    """Run tools/check.py over the outputs written for the oracle; return
    {entry: cause} for every entry that did not match it."""
    entries = raw["oracle_entries"]
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"), raw["data"], check_dir],
        capture_output=True, text=True, cwd=ROOT, stdin=subprocess.DEVNULL)
    ok = set()
    bad = {}
    for ln in r.stdout.splitlines():
        if ln.startswith("OK "):
            ok.add(ln.split()[1])
        elif ln.startswith("FAIL "):
            name, _, cause = ln[5:].partition(":")
            bad[name.strip()] = cause.strip()
    for e in entries:
        if e not in ok and e not in bad:
            bad[e] = "not checked: " + (r.stderr.strip().splitlines() or ["?"])[-1]
    return bad


def tail_percentile(xs):
    """Highest whole percentile with at least ten samples above it."""
    n = len(xs)
    if n < 20:
        return None
    pct = int(100 * (n - 10) / n)
    s = sorted(xs)
    return pct, s[min(n - 1, max(0, -(-pct * n // 100) - 1))]


def union_s(spans):
    spans = sorted(s for s in spans if s[1] >= s[0])
    total, end = 0.0, None
    for a, b in spans:
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


MODULES = ("Main", "ci", "Runner", "Materializer", "Snapshot", "MergeOnRead",
           "TimeTravel", "Warehouse", "Gate", "operators", "other", "sink")
FAMILIES = {"m": "ops.m_s", "q": "ops.q_s", "d": "ops.d_s"}


def layer_metrics(raw):
    """Per-op per-layer metrics of the traced passes."""
    tr = raw["traces"]
    n = len(tr)
    nproc = raw["nproc"]
    sums = {}
    for t in tr:
        for k, v in t["counters"].items():
            sums[k] = sums.get(k, 0.0) + v
    per_op = lambda k: sums.get(k, 0.0) / n
    active = [union_s([(j["start_ms"], j["end_ms"]) for j in t["jobs"]]) for t in tr]
    job_s = lambda jobs: sum(max(0, j["end_ms"] - j["start_ms"]) for j in jobs) / 1e3
    all_jobs = [j for t in tr for j in t["jobs"]]
    total_active = sum(active)
    runner_jobs = [j for j in all_jobs if j["under_runner"]]
    m = {}

    def put(name, value, unit, better):
        m[name] = {"value": value, "unit": unit, "better": better}

    put("spark.jobs", len(all_jobs) / n, "count/op", "lower")
    for k in ("spark.stages", "spark.tasks"):
        put(k, per_op(k), "count/op", "lower")
    put("spark.sched_delay_s", per_op("spark.sched_delay_s"), "s/op", "lower")
    put("spark.active_s", total_active / n, "s/op", "lower")
    put("spark.job_concurrency", job_s(all_jobs) / total_active if total_active else 0.0,
        "ratio", "higher")
    for k in ("spark.task_s", "spark.task_cpu_s", "spark.gc_s"):
        put(k, per_op(k), "s/op", "lower")
    put("spark.core_util", sums.get("spark.task_s", 0.0) / (total_active * nproc)
        if total_active else 0.0, "ratio", "higher")
    for k in ("spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
              "spark.spill_bytes", "spark.input_bytes", "spark.output_bytes"):
        put(k, per_op(k), "B/op", "lower")
    put("driver.self_s", sum(t["counters"]["op.wall_s"] - a for t, a in zip(tr, active)) / n,
        "s/op", "lower")
    put("catalyst.executions", per_op("catalyst.executions"), "count/op", "lower")
    put("catalyst.plan_s", per_op("catalyst.plan_s"), "s/op", "lower")
    for k in ("plan.scans", "plan.exchanges", "plan.broadcasts",
              "plan.reused_exchanges", "plan.rdd_scans"):
        put(k, per_op(k), "count/op", "lower")
    for mod in MODULES:
        js = [j for j in all_jobs if j["module"] == mod]
        put(f"jobs.{mod}", len(js) / n, "count/op", "lower")
        put(f"job_s.{mod}", job_s(js) / n, "s/op", "lower")
    closure = sums.get("ci.closure_models", 0.0)
    put("ci.closure_models", closure / n, "count/op", "higher")
    put("ci.jobs_per_model", len(all_jobs) / closure if closure else 0.0,
        "count/model", "lower")
    put("runner.job_concurrency",
        job_s(runner_jobs) / union_s([(j["start_ms"], j["end_ms"]) for j in runner_jobs])
        if runner_jobs else 0.0, "ratio", "higher")
    for k in ("fs.create", "fs.rename", "fs.delete", "fs.list", "fs.status",
              "fs.mkdirs", "fs.open"):
        put(k, per_op(k), "count/op", "lower")
    put("fs.meta_s", per_op("fs.meta_s"), "s/op", "lower")
    put("fs.bytes_written", per_op("fs.bytes_written"), "B/op", "lower")
    live = [(t["counters"].get("fs.bytes_written", 0.0), t["counters"].get("warehouse.live_bytes", 0.0))
            for t in tr]
    live = [(w, b) for w, b in live if b > 0]
    put("warehouse.write_amp", sum(w for w, _ in live) / sum(b for _, b in live)
        if live else 0.0, "ratio", "lower")
    put("freeze.peak_bytes", max(t["counters"].get("freeze.peak_bytes", 0.0) for t in tr),
        "B", "lower")
    put("freeze.leaked_rdds", per_op("freeze.leaked_rdds"), "count/op", "lower")
    by_family = {}
    for t in tr:
        fam = FAMILIES.get(re.match(r"[a-z]*", t["name"]).group(0), "ops.other_s")
        by_family.setdefault(fam, []).append(t["counters"]["op.wall_s"])
    for k in ("ops.m_s", "ops.q_s", "ops.d_s", "ops.other_s"):
        put(k, statistics.median(by_family[k]) if k in by_family else 0.0, "s", "lower")
    return m


def main():
    # a terminated benchmark stops its JVM: subprocess.run kills the child
    # when the wait is interrupted by the SystemExit this raises
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    cp, stamp, built = build(start + 850)
    deadline = (time.time() if built else start) + DEADLINE_S
    extra, check_dir = [], None
    if a.workload == "ci_pr":
        fixture = ci_fixture(cp, stamp, a, deadline)
        extra, check_dir = ["--fixture", fixture], os.path.join(fixture, "check")
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(cp, a, work, os.path.join(work, "raw.json"), deadline, extra)
        bad = oracle_failures(raw, check_dir or os.path.join(work, "check"))
        os.makedirs(os.path.join(BUILD, "raw"), exist_ok=True)
        shutil.copy(os.path.join(work, "raw.json"), os.path.join(
            BUILD, "raw", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = raw["ops"]
    untraced = [o for o in ops if not o["traced"]]
    causes = dict(raw["warmup_errors"])
    causes.update((o["name"], o["error"]) for o in ops if o["error"])
    for o in ops:
        if o["name"] in bad:
            causes[o["name"]] = "oracle: " + bad[o["name"]]
    prod_bad = a.workload == "ci_pr" and bool(bad)
    failed = len(ops) if prod_bad else sum(1 for o in ops if o["name"] in causes)
    for name, cause in sorted(causes.items()):
        print(f"perfbench: FAILED {name}: {cause}", file=sys.stderr)
    if prod_bad:
        print(f"perfbench: FAILED prod mart_segment_spend vs m12 oracle: {bad}",
              file=sys.stderr)

    walls = [o["wall_s"] for o in untraced]
    by_pass = {}
    for o in untraced:
        by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + o["wall_s"]
    tail = tail_percentile(walls)
    summary = {
        "ops": len(ops), "passes": raw["passes"], "warmup_s": raw["warmup_s"],
        "fail_ratio": failed / len(ops), "peak_rss_mb": raw["peak_rss_mb"],
        "op_tail_s": {"percentile": tail[0], "value": tail[1]} if tail else
        "omitted: fewer than 20 ops in the run",
        "unchecked": sorted(set(o["name"] for o in ops) - set(raw["oracle_entries"]))
        if a.workload != "ci_pr" else [],
    }
    print("perfbench: " + json.dumps(summary), file=sys.stderr)

    if a.trace:
        metrics = layer_metrics(raw)
        traced = [o["wall_s"] for o in ops if o["traced"]]
        p_t, p_u = statistics.median(traced), statistics.median(walls)
        metrics["trace.overhead_pct"] = {"value": 100.0 * (p_t / p_u - 1),
                                         "unit": "%", "better": "lower"}
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"metrics": metrics, "untraced_op_p50_s": p_u,
                       "traced_op_p50_s": p_t, "spans": raw["traces"]}, f)
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}
    else:
        metrics = {
            "setup_s": {"value": raw["setup_s"], "unit": "s"},
            "op_p50_s": {"value": statistics.median(walls), "unit": "s"},
            "pass_s": {"value": statistics.median(by_pass.values()), "unit": "s"},
            "cpu_s_per_op": {"value": raw["cpu_s"] / len(ops), "unit": "s"},
            "peak_heap_mb": {"value": raw["peak_heap_mb"], "unit": "MB"},
            "disk_mb": {"value": raw["disk_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": not (failed or bad or causes), "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
