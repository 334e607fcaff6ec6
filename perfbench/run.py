#!/usr/bin/env python3
"""Benchmark of graft's declared queries, end to end and per layer.

Usage (from the repository root):
  python3 perfbench/run.py --workload iterative|verify_write \
      --seed N --seconds S --trace 0|1

Each run builds the engine if needed (perfbench/build.py), draws the
workload's query sample from its committed pool with the seed, and starts a
fresh JVM (perfbench/src/Harness.scala) with a fixed heap and local[nproc].
That JVM builds the session with graft.Sessions.build, touches every table
through graft.Catalog.load, runs the sample cold and warm untimed, then runs
timed passes for S seconds, one query at a time (a closed loop with one
client). Every output is checked against the fingerprints in
perfbench/expected/; verify_write also checks its last pass with
scripts/preverify.py against DuckDB. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer ones
(listeners from perfbench/src/Tracer.scala), including the tracing overhead.

All scratch (java.io.tmpdir, spark.local.dir, the JVM's working directory)
lives in a per-run directory under .bench_build/ that is deleted at exit.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# warm: untimed passes after the cold one (perfbench/README.md, "Warm passes").
# Both run at sf0.01 (perfbench/README.md, "Why the pools are small and fixed").
SF = "sf0.01"
WORKLOADS = {
    "iterative": dict(action="fingerprint", warm=1),
    "verify_write": dict(action="write", warm=2),
}
HEAP = "3g"
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def read_pool(name):
    """Ids of a pool file; '#' starts a comment."""
    ids = []
    with open(os.path.join(HERE, "pools", name + ".txt")) as f:
        for line in f:
            line = line.split("#", 1)[0].strip()
            if line:
                ids.append(line.split()[0])
    return ids


def draw(pool, seed):
    """The run's sample: every pool id, in an order drawn from the seed."""
    sample = list(pool)
    random.Random(seed).shuffle(sample)
    return sample


def run_jvm(harness_args, trace, run_dir, timeout=JVM_TIMEOUT_S, cds=None):
    """Runs perfbench.Harness in a fresh JVM whose tmpdir, spark.local.dir
    and working directory are run_dir. Returns (spawn epoch ms, result).
    The JVM maps the class-data archive if there is one; cds is a JVM
    option that replaces that (ensure_archive uses it to write one)."""
    out = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if cds:
        cmd.append(cds)
    elif os.path.exists(build.ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={build.ARCHIVE}")
    if trace:
        cmd.append("-Dspark.sql.queryExecutionListeners=perfbench.PlanListener")
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Harness", f"out={out}"] + harness_args
    log_path = os.path.join(run_dir, "jvm.log")
    spawn_ms = time.time() * 1000
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")
    with open(out) as f:
        return spawn_ms, json.load(f)


def ensure_archive(data):
    """Once per build: a dynamic class-data archive of the classes the
    workloads load (JVM, Spark, engine, harness), written by one run of
    every pool id, cold, through both actions. Later JVMs map it instead of
    loading and verifying those classes one by one; it is made before and
    outside any measured run, so no run's set-up includes it."""
    if os.path.exists(build.ARCHIVE):
        return
    ids = sorted({q for n in WORKLOADS for q in read_pool(n)})
    run_dir = os.path.join(ROOT, ".bench_build", f"archive-{os.getpid()}")
    os.makedirs(run_dir)
    partial = os.path.join(run_dir, "classes.jsa")
    try:
        run_jvm(["mode=fingerprint", f"sf={data}", f"ids={','.join(ids)}", "seconds=0",
                 "warm=0", "trace=0", f"cpus={os.cpu_count()}",
                 f"writeDir={os.path.join(run_dir, 'out')}"], 0, run_dir, timeout=600,
                cds=f"-XX:ArchiveClassesAtExit={partial}")
        os.replace(partial, build.ARCHIVE)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def load_expected(action):
    """Expected fingerprints for the action ("live" for the fingerprint
    action, "written" for Verify's write), and the nondeterministic ids."""
    with open(os.path.join(HERE, "expected", SF + ".json")) as f:
        exp = json.load(f)
    kind = "written" if action == "write" else "live"
    return {q: v[kind] for q, v in exp["fingerprints"].items()}, set(exp["nondeterministic"])


def quantile(values, q):
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    return statistics.quantiles(v, n=100, method="inclusive")[round(q * 100) - 1]


def check(execs, expected, nondet):
    """Returns the failures: (id, pass, reason). A query whose fingerprint
    differed between clean recordings (a nondeterminism finding) is checked
    on its row count only."""
    fails = []
    for pas, _traced, qid, _build, _action, _rows, fp, err in execs:
        if err:
            fails.append((qid, pas, err))
        elif qid not in expected:
            fails.append((qid, pas, "no expected fingerprint"))
        elif qid in nondet:
            if fp.split(":")[0] != expected[qid].split(":")[0]:
                fails.append((qid, pas, f"rows {fp.split(':')[0]} != {expected[qid].split(':')[0]}"))
        elif fp != expected[qid]:
            fails.append((qid, pas, f"fingerprint {fp} != {expected[qid]}"))
    return fails


def end_to_end(res, spawn_ms):
    timed = [e for e in res["execs"] if e[0] >= 0 and not e[1]]
    times = [e[3] + e[4] for e in timed]
    walls = [s for p, t, s in res["passes"] if p >= 0 and not t]
    return {
        "setup_s": ((res["setup_done_ms"] - spawn_ms) / 1000, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "query_p50_s": (statistics.median(times), "s"),
    }


def per_layer(res, action):
    traced = [e for e in res["execs"] if e[0] >= 0 and e[1]]
    n = len(traced)
    cores = res["cores"]
    qtime = sum(e[3] + e[4] for e in traced)
    build_s = sum(e[3] for e in traced)
    action_s = sum(e[4] for e in traced)
    rows = sum(max(e[5], 0) for e in traced)
    cols = ["jobs", "stages", "submitted", "tasks", "retries", "run_ms", "cpu_ns", "gc_ms",
            "in_bytes", "in_records", "sh_write", "sh_read", "fetch_ms", "spill", "out_bytes",
            "busy_ms"]
    tot = {"build": dict.fromkeys(cols, 0), "action": dict.fromkeys(cols, 0)}
    for span, *vals in res["spans"]:
        kind = span.rsplit("|", 1)[1]
        for c, v in zip(cols, vals):
            tot[kind][c] += v
    a = {c: tot["build"][c] + tot["action"][c] for c in cols}
    plans = res["plans"]
    built = res["built"]
    batches = res["batches"]
    cg_setup, cg_window = res["codegen"]
    window_execs = len([e for e in res["execs"] if e[0] >= 0])
    untraced = [s for p, t, s in res["passes"] if p >= 0 and not t]
    traced_walls = [s for p, t, s in res["passes"] if t]
    mb = 1024 * 1024
    m = {
        "sessions.build_s": (res["sessions_build_s"], "s"),
        "catalog.load_ms": (statistics.median(res["catalog_load_ms"]), "ms"),
        "catalog.scans": (sum(p[4] for p in plans) / max(len(plans), 1), "count"),
        "build.s": (build_s / n, "s"),
        "build.self_s": ((build_s - tot["build"]["busy_ms"] / 1000) / n, "s"),
        "build.jobs": (tot["build"]["jobs"] / n, "count"),
        "build.share": (build_s / qtime, "frac"),
        "plan.analysis_ms": ((sum(p[1] for p in plans) + sum(b[0] for b in built)) / n, "ms"),
        "plan.build_rules_ms": (sum(b[1] for b in built) / 1e6 / n, "ms"),
        "plan.optimization_ms": (sum(p[2] for p in plans) / n, "ms"),
        "plan.planning_ms": (sum(p[3] for p in plans) / n, "ms"),
        "plan.count": (len(plans) / n, "count"),
        "codegen.compile_ms": (cg_window[1] / window_execs, "ms"),
        "codegen.classes": (cg_window[0] / window_execs, "count"),
        "codegen.setup_ms": (cg_setup[1], "ms"),
        "codegen.setup_classes": (cg_setup[0], "count"),
        "sched.jobs": (a["jobs"] / n, "count"),
        "sched.stages": (a["stages"] / n, "count"),
        "sched.tasks": (a["tasks"] / n, "count"),
        "sched.job_ms_p50": (statistics.median(res["job_ms"]) if res["job_ms"] else 0.0, "ms"),
        "sched.idle_frac": (1 - a["run_ms"] / 1000 / (qtime * cores), "frac"),
        "sched.skipped_stage_frac": (1 - a["submitted"] / a["stages"] if a["stages"] else 0.0, "frac"),
        "sched.task_retries": (a["retries"], "count"),
        "exec.run_s": (a["run_ms"] / 1000 / n, "s"),
        "exec.cpu_s": (a["cpu_ns"] / 1e9 / n, "s"),
        "exec.gc_s": (a["gc_ms"] / 1000 / n, "s"),
        "scan.read_mb": (a["in_bytes"] / mb / n, "MB"),
        "scan.rows_per_result": (a["in_records"] / max(rows, 1), "count"),
        "shuffle.write_mb": (a["sh_write"] / mb / n, "MB"),
        "shuffle.read_mb": (a["sh_read"] / mb / n, "MB"),
        "shuffle.fetch_wait_ms": (a["fetch_ms"] / n, "ms"),
        "spill.disk_mb": (a["spill"] / mb / n, "MB"),
        "stream.batches": (len(batches) / n, "count"),
        "stream.batch_ms_p50": (statistics.median(b[0] for b in batches) if batches else 0.0, "ms"),
        "stream.state_rows": (sum(b[1] for b in batches) / max(len(batches), 1), "count"),
        "write.s": (action_s / n if action == "write" else 0.0, "s"),
        "write.mb": (tot["action"]["out_bytes"] / mb / n, "MB"),
        "write.files": (res["written_files"] / n, "count"),
        "jvm.rss_peak_mb": (res["vm_hwm_kb"] / 1024, "MB"),
        "jvm.gc_s": (res["jvm_gc_s"], "s"),
        "jvm.heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "jit.compile_s": (res["jit_compile_s"], "s"),
        "trace.overhead_s": (statistics.median(traced_walls) - statistics.median(untraced), "s"),
        "trace.overhead_frac": (statistics.median(traced_walls) / statistics.median(untraced) - 1, "frac"),
        "trace.executions": (n, "count"),
    }
    return m


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[0]
    except OSError:
        return "n/a"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # A terminated run still stops its JVM and deletes its scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    w = WORKLOADS[args.workload]
    os.chdir(ROOT)
    build.build()
    data = os.path.join(HERE, "data", SF)
    ensure_archive(data)
    sample = draw(read_pool(args.workload), args.seed)
    expected, nondet = load_expected(w["action"])
    cpus = str(os.cpu_count())
    run_dir = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(run_dir)
    try:
        hargs = [f"mode={w['action']}", f"sf={data}", f"ids={','.join(sample)}",
                 f"seconds={args.seconds}", f"warm={w['warm']}", f"trace={args.trace}",
                 f"cpus={cpus}"]
        if w["action"] == "write":
            hargs.append(f"writeDir={os.path.join(run_dir, 'out')}")
        spawn_ms, res = run_jvm(hargs, args.trace, run_dir)
        fails = check(res["execs"], expected, nondet)
        if w["action"] == "write":
            last = max(e[0] for e in res["execs"])
            pv = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "preverify.py"),
                                 data, os.path.join(run_dir, "out", f"p{last}")],
                                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if pv.returncode != 0:
                sys.stderr.write(pv.stdout[-4000:])
                bad = [l.split()[1].rstrip(":") for l in pv.stdout.splitlines()
                       if l.startswith("FAIL")] or sample
                fails += [(q, last, "scripts/preverify.py mismatch against DuckDB") for q in bad]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for qid, pas, why in fails:
        sys.stderr.write(f"perfbench: FAIL {qid} (pass {pas}): {why[:300]}\n")
    attempted = len(res["execs"])
    failed = len({(q, p) for q, p, _ in fails})
    timed = len([e for e in res["execs"] if e[0] >= 0 and not e[1]])
    metrics = per_layer(res, w["action"]) if args.trace else end_to_end(res, spawn_ms)
    print(f"# workload={args.workload} seed={args.seed} sf={SF} sample={','.join(sample)}")
    print(f"# cores={cpus} loadavg={loadavg()} timed_executions={timed} "
          f"passes={len(res['passes'])} failed_frac={failed / attempted:.4f} "
          f"peak_rss_mb={res['vm_hwm_kb'] / 1024:.1f}")
    # Context, not metrics: a p90 needs >= 100 timed executions in a run.
    times = [e[3] + e[4] for e in res["execs"] if e[0] >= 0 and not e[1]]
    print(f"# query_p90_s={quantile(times, 0.9):.3f} over {len(times)} timed executions "
          "(context only, not a metric below 100)")
    print("# set-up marks (s after spawn): " + " ".join(
        f"{k}={(t - spawn_ms) / 1000:.2f}" for k, t in [("jvm", res["jvm_start_ms"])] + res["marks"]))
    print("# pass seconds: " + " ".join(
        f"{'cold' if p == -1 else f'warm{-1 - p}' if p < 0 else f'{p}t' if t else p}={v:.3f}"
        for p, t, v in res["passes"]))
    setup_q = {}
    for e in res["execs"]:
        if e[0] < 0:
            setup_q.setdefault(e[2], []).append(f"{e[3] + e[4]:.3f}")
    print("# set-up seconds per query (cold, warm...): " + " ".join(
        f"{q}={'/'.join(v)}" for q, v in setup_q.items()))
    per_query = {}
    for e in res["execs"]:
        if e[0] >= 0 and not e[1]:
            per_query.setdefault(e[2], []).append(e[3] + e[4])
    print("# timed seconds per query (median): " + " ".join(
        f"{q}={statistics.median(v):.3f}" for q, v in per_query.items()))
    for k, (v, unit) in metrics.items():
        print(f"# {k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
