#!/usr/bin/env python3
"""secdbspark benchmark: one workload, one closed-loop client, one run.

Usage, from the repository root:

    python3 perfbench/run.py --workload query_first --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

The first call builds the library and the harness from source with sbt
(perfbench/harness, output under .bench_build/). Each run starts a fresh
JVM with one Spark session (local[N], N = min(4, cpus)), runs the
workload, checks every answer, and prints one JSON object as the last
line of standard output. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer ones. To report the tracing overhead and to
reconcile the traced layer times with untraced wall times, a traced run
also measures untraced operations: query_first runs its sample untraced
and then traced in two fresh JVMs, table_history traces every other
operation of one stream. The exit code is 0 only
when every operation succeeded with the expected answer.

See perfbench/README.md for the workloads, metrics and sizes.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected", "digests.json")
WORKLOADS = ("query_first", "table_history")
JVM_TIMEOUT_S = 170
SETUP_REPS = 3
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


# ------------------------------------------------------------------ build

def source_fingerprint():
    """Content hash of everything the harness build compiles."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the library and the harness once per source state; returns
    the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no secdbspark sources under src/main/scala: run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = source_fingerprint()
        stamp = os.path.join(out, "classpath.json")
        if os.path.isfile(stamp):
            with open(stamp) as f:
                cached = json.load(f)
            if cached.get("fingerprint") == fp:
                return cached["classpath"]
        env = dict(os.environ, BENCH_BUILD_DIR=out)
        env.setdefault("COURSIER_MODE", "offline")
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
               "compile", "export Runtime/fullClasspath"]
        log("perfbench: building library and harness with sbt")
        with open(os.path.join(out, "build.log"), "w") as blog:
            r = subprocess.run(cmd, cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                               stderr=blog, text=True, timeout=800)
            blog.write(r.stdout)
        cp = [ln for ln in r.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
        if r.returncode != 0 or not cp:
            fail(f"build failed (exit {r.returncode}); see {os.path.join(out, 'build.log')}")
        with open(stamp, "w") as f:
            json.dump({"fingerprint": fp, "classpath": cp[-1].strip()}, f)
        return cp[-1].strip()


# ------------------------------------------------------------- host state

def spin_yardstick():
    """Seconds for a fixed amount of single-thread integer work."""
    t0 = time.perf_counter()
    x = 0x9E3779B97F4A7C15
    for _ in range(300_000):
        x ^= (x >> 12)
        x ^= (x << 25) & 0xFFFFFFFFFFFFFFFF
        x ^= (x >> 27)
    return time.perf_counter() - t0


def cpu_times():
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    return [int(v) for v in parts]


def host_state(before=None):
    """Host readings beside a run. They make disturbed host phases visible
    and are never used to drop, rescale or retry a run."""
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    state = {"spin_s": spin_yardstick(), "loadavg": load, "cpu": cpu_times()}
    if before is not None:
        d = [b - a for a, b in zip(before["cpu"], state["cpu"])]
        state["steal_share"] = (d[7] / sum(d)) if len(d) > 7 and sum(d) > 0 else 0.0
    return state


# ----------------------------------------------------------------- runs

def workload_queries(workload):
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    return [q["query"] for q in spec.get(workload, [])]


def java_command(classpath, workload, seed, seconds, phases, reps, work, out):
    cpus = min(4, os.cpu_count() or 1)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "secdbbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--phases", ",".join(phases) or "none", "--cpus", str(cpus),
            "--setup-reps", str(reps), "--data", DATA, "--work", work, "--out", out]
    queries = workload_queries(workload)
    if queries:
        cmd += ["--queries", ",".join(queries)]
    return cmd


def run_jvm(classpath, workload, seed, seconds, phases, reps, tag, deadline):
    """One fresh JVM: set-up, then the timed phases ("plain" untraced,
    "traced"); returns the raw result JSON with the exit code and the
    run directory (which keeps the JVM log and the spans)."""
    work = os.path.join(build_dir(), "runs", f"{workload}-{seed}-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = java_command(classpath, workload, seed, seconds, phases, reps, work, out)
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} JVM exceeded its time budget; see {work}/jvm.log", 1)
    if not os.path.isfile(out):
        fail(f"{workload} JVM exited with {rc} and no result; see {work}/jvm.log", 1)
    with open(out) as f:
        res = json.load(f)
    # tables and scratch files are large; the result and the logs stay
    for name in os.listdir(work):
        p = os.path.join(work, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    res.update(rc=rc, work=work)
    return res


# -------------------------------------------------------------- checking

def load_expected():
    with open(EXPECTED) as f:
        return json.load(f)["digests"]


def check_digests(ops, expected):
    """Marks each query op whose row count and content hash differ from the
    committed digest. Returns the list of mismatch descriptions."""
    bad = []
    for op in ops:
        if op["kind"] != "query" or not op["ok"]:
            continue
        want = expected.get(op["name"])
        if want != op["digest"]:
            op["ok"] = False
            op["err"] = f"digest {op['digest']} != expected {want}"
            bad.append(f"{op['name']}: {op['err']}")
    return bad


# --------------------------------------------------------------- metrics

def tail(values):
    """Latency at the highest percentile with at least ten samples beyond
    it, and that percentile."""
    v = sorted(values)
    i = max(0, len(v) - 11)
    return v[i], 100.0 * (i + 1) / len(v)


def setup_seconds(res):
    """Median of the repeated session start + warm-up, plus table seeding."""
    return statistics.median(res["session_s"]) + res["seed_s"]


def end_to_end(res, phase):
    walls = [op["wall_s"] for op in phase["ops"]]
    t, pct = tail(walls)
    return {
        "setup_s": (setup_seconds(res), "s"),
        "ops_per_s": (len(walls) / sum(walls), "1/s"),
        "latency_p50_s": (statistics.median(walls), "s"),
        "latency_tail_s": (t, "s"),
        "heap_peak_mb": (phase["heap_peak_mb"], "MB"),
    }, pct


def kind_median(ops, kind):
    w = [op["wall_s"] for op in ops if op["kind"] == kind]
    return statistics.median(w) if w else 0.0


def layer_values(ops, key, how):
    v = [op["layers"][key] for op in ops if key in op["layers"]]
    if not v:
        return 0.0
    return statistics.median(v) if how == "median" else sum(v) / len(v)


# per-operation means of the counters every operation has
MEAN_LAYERS = [
    ("queries.build_s", "s/op"), ("planner.analysis_s", "s/op"),
    ("planner.optimization_s", "s/op"), ("planner.planning_s", "s/op"),
    ("codegen.classes", "count/op"), ("jit.compile_s", "s/op"), ("gc.pause_s", "s/op"),
    ("exec.wall_s", "s/op"), ("exec.task_run_s", "s/op"), ("exec.task_cpu_s", "s/op"),
    ("exec.sched_delay_s", "s/op"), ("exec.tasks", "count/op"), ("exec.stages", "count/op"),
    ("exec.jobs", "count/op"), ("scan.records", "count/op"), ("scan.bytes", "B/op"),
    ("shuffle.write_bytes", "B/op"), ("shuffle.read_records", "count/op"),
    ("spill.bytes", "B/op"), ("table.prune_kept_ratio", "ratio")]
# medians over the operations of one kind (table layer)
MEDIAN_LAYERS = [
    ("table.commit_s.append", "s"), ("table.commit_s.merge", "s"),
    ("table.commit_s.delete", "s"), ("table.commit_s.update", "s"),
    ("table.log_bytes_per_commit", "B"), ("table.write_amp", "ratio"),
    ("table.maintain_s.compact", "s"), ("table.maintain_s.checkpoint", "s"),
    ("table.maintain_s.vacuum", "s"), ("table.snapshot_head_s", "s"),
    ("table.snapshot_asof_s", "s")]


def reconcile(plain, traced):
    """Per query: traced build + plan + exec against the untraced wall time
    of the same query (medians when a query ran more than once)."""
    def by_query(ops, f):
        out = {}
        for op in ops:
            if op["kind"] == "query" and op["ok"]:
                out.setdefault(op["name"], []).append(f(op))
        return {q: statistics.median(v) for q, v in out.items()}
    wall = by_query(plain["ops"], lambda op: op["wall_s"])
    parts = by_query(traced["ops"], lambda op: op["layers"]["queries.build_s"]
                     + op["layers"]["plan_s"] + op["layers"]["exec_s"])
    return {q: (parts[q], wall[q], abs(parts[q] - wall[q]) / wall[q])
            for q in sorted(wall) if q in parts}


def overhead(plain_ops, traced_ops):
    """Share of ops_per_s lost to tracing, at the untraced run's mix: the
    traced and untraced mean latency of each kind of operation (each query,
    each commit kind, ...), weighted by the untraced counts."""
    def means(ops):
        out = {}
        for op in ops:
            key = (op["kind"], op["name"] if op["kind"] in ("query", "commit") else "")
            out.setdefault(key, []).append(op["wall_s"])
        return {k: (len(v), sum(v) / len(v)) for k, v in out.items()}
    u, t = means(plain_ops), means(traced_ops)
    common = [k for k in u if k in t]
    plain_s = sum(u[k][0] * u[k][1] for k in common)
    traced_s = sum(u[k][0] * t[k][1] for k in common)
    return 1.0 - plain_s / traced_s if traced_s else 0.0


def per_layer(plain, traced):
    ops = traced["ops"]
    m = {k: (layer_values(ops, k, "mean"), u) for k, u in MEAN_LAYERS}
    m.update({k: (layer_values(ops, k, "median"), u) for k, u in MEDIAN_LAYERS})
    # end-to-end figures of the table layer, from the untraced run
    p = plain["ops"]
    m["table.files_live"] = (float(plain["table"].get("files_live", 0)), "count")
    m["commit_p50_s"] = (kind_median(p, "commit"), "s")
    m["maintenance_s"] = (kind_median(p, "maintain"), "s")
    m["read_head_p50_s"] = (kind_median(p, "read_head"), "s")
    m["read_asof_p50_s"] = (kind_median(p, "read_asof"), "s")
    m["space_amp"] = (plain["table"].get("space_amp", 0.0), "ratio")
    m["trace.overhead"] = (overhead(p, ops), "ratio")
    rec = reconcile(plain, traced)
    errs = [e for _, _, e in rec.values()]
    parts = sum(r[0] for r in rec.values())
    walls = sum(r[1] for r in rec.values())
    m["trace.reconcile_p50_err"] = (statistics.median(errs) if errs else 0.0, "ratio")
    m["trace.reconcile_max_err"] = (max(errs, default=0.0), "ratio")
    m["trace.reconcile_total_err"] = (abs(parts - walls) / walls if walls else 0.0, "ratio")
    return m, rec


# ------------------------------------------------------------------ main

def emit(correct, attempted, failed, metrics):
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def run_selftest():
    res = subprocess.run([sys.executable, "-m", "unittest", "discover", "-s",
                          os.path.join(HERE, "tests"), "-v"], cwd=ROOT)
    sys.exit(res.returncode)


def jvm_ok(res):
    if res["rc"] != 0:
        fail(f"JVM exited with {res['rc']}; see {res['work']}/jvm.log", 1)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the checker self-tests and exit")
    a = ap.parse_args()
    classpath = build()
    if a.selftest:
        run_selftest()
    if a.workload is None:
        fail("--workload is required")
    expected = load_expected()
    deadline = time.time() + JVM_TIMEOUT_S

    host0 = host_state()
    if not a.trace:
        res = jvm_ok(run_jvm(classpath, a.workload, a.seed, a.seconds, ["plain"], SETUP_REPS,
                             "plain", deadline))
        phases = res["phases"]
    elif a.workload == "query_first":
        # first executions: the untraced reference needs a JVM of its own;
        # set-up is not reported here, so it runs once
        phases = [jvm_ok(run_jvm(classpath, a.workload, a.seed, a.seconds, [p], 1, p, deadline))
                  ["phases"][0] for p in ("plain", "traced")]
    else:
        # one phase, every other operation traced: both halves share the
        # table's history and the JVM's warmth
        res = jvm_ok(run_jvm(classpath, a.workload, a.seed, a.seconds, ["alternate"], 1,
                             "traced", deadline))
        both = res["phases"][0]
        phases = [dict(both, ops=[op for op in both["ops"] if op["traced"] == t])
                  for t in (False, True)]
    plain = phases[0]
    host = host_state(host0)
    del host["cpu"], host0["cpu"]
    print("host: " + json.dumps({"before": host0, "after": host}))

    mismatches = []
    for r in phases:
        mismatches += check_digests(r["ops"], expected)
        mismatches += [f"{op['kind']} {op['name']}: {op['err']}" for op in r["ops"]
                       if not op["ok"] and op["kind"] != "query"]
    attempted = sum(len(r["ops"]) for r in phases)
    failed = sum(1 for r in phases for op in r["ops"] if not op["ok"])
    for m in mismatches:
        print(f"mismatch: {m}")

    print(f"error_rate {failed / attempted:.6g} ratio ({failed} of {attempted} operations)")
    if a.trace:
        traced = phases[1]
        metrics, rec = per_layer(plain, traced)
        for q, (parts, wall, err) in rec.items():
            print(f"reconcile {q}: build+plan+exec {parts:.4f} s, untraced wall {wall:.4f} s, "
                  f"error {100 * err:.1f}%")
        print(f"tracing overhead: {metrics['trace.overhead'][0]:.4f} of untraced ops_per_s")
        print(f"spans: {traced['spans']}")
    else:
        metrics, pct = end_to_end(res, plain)
        print(f"latency_tail_s is the p{pct:.1f} latency ({len(plain['ops'])} operations)")
    for k, (v, u) in metrics.items():
        print(f"metric {k} {v:.6g} {u}")
    emit(failed == 0, attempted, failed, metrics)
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
