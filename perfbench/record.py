#!/usr/bin/env python3
"""Maintenance of the benchmark's committed inputs. Not run by the benchmark.

Usage (from the repository root):
  python3 perfbench/record.py census     # traced job counts -> pools/census.json
  python3 perfbench/record.py pools      # pool files from bench_last.json + census
  python3 perfbench/record.py expected   # expected fingerprints -> expected/<scale>.json
  python3 perfbench/record.py selfcheck  # pool ids, seeded orders, census threshold

census runs every candidate of the iterative pool (the GraphOps, KMeansOps,
MlTrees and streaming.Streams packs) on the benchmark's tables
(perfbench/data/<run.SF>) in one traced JVM: a cold pass, two warm passes,
then four timed passes, untraced, traced, traced, untraced. It records each
query's Spark jobs per traced execution and its time in every pass.

expected records every pool member twice, each time in a fresh JVM: the
live result's fingerprint and the fingerprint of the result written the
Verify way and read back, and runs scripts/preverify.py on the written
results. A query whose fingerprint is not the same in all four readings is
a nondeterminism finding: it is listed under "nondeterministic" and is
checked on its row count only.
"""
import json
import os
import statistics
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

ITERATIVE_PACKS = ["GraphOps", "KMeansOps", "MlTrees", "Streams"]
# Iterative pool rule: at least this many Spark jobs per execution in the
# census's traced passes, and at most this many seconds per execution (the
# median of its four timed passes), which keeps a run within the
# benchmark's time budget.
JOB_THRESHOLD = 10
CENSUS_CAP_S = 1.0
# verify_write pool rule: oracle-bearing queries at most this many seconds on
# the committed board. The heavy tail above it (graph, stream and lake
# lifecycles, most of them iterative's domain) would make a sample's cost
# depend on whether the draw took one of them.
WRITE_CAP_S = 0.6
WRITE_K = 5


def scratch():
    d = tempfile.mkdtemp(prefix="record-", dir=os.path.join(ROOT, ".bench_build"))
    return d


def list_ids():
    d = scratch()
    try:
        return run.run_jvm(["mode=list"], 0, d)[1]
    finally:
        subprocess.run(["rm", "-rf", d])


def census():
    sf_dir = os.path.join(HERE, "data", run.SF)
    ids = list_ids()
    cands = sorted({q for p in ITERATIVE_PACKS for q in ids[p]})
    d = scratch()
    try:
        _, res = run.run_jvm(["mode=fingerprint", f"sf={sf_dir}",
                              f"ids={','.join(cands)}", "seconds=0", "warm=2", "trace=1",
                              f"cpus={os.cpu_count()}"], 1, d, timeout=3000)
    finally:
        subprocess.run(["rm", "-rf", d])
    jobs = {}
    for span, j, *_ in res["spans"]:
        pas, qid, _kind = span.split("|")
        jobs[qid] = jobs.get(qid, 0) + j
    traced_passes = len({p for p, t, _ in res["passes"] if t})

    def per_pass(n):
        return n // traced_passes if n % traced_passes == 0 else n / traced_passes
    times = {}
    for pas, _t, qid, b, a, _r, _fp, err in res["execs"]:
        times.setdefault(qid, []).append(round(b + a, 3) if not err else None)
    out = {"note": "Spark jobs per traced execution; seconds per pass (cold, warm 1, warm 2, "
                   f"then timed untraced, traced, traced, untraced) on {run.SF}, "
                   f"{os.cpu_count()} cores",
           "queries": {q: {"jobs": per_pass(jobs.get(q, 0)), "seconds": times.get(q)}
                       for q in cands}}
    with open(os.path.join(HERE, "pools", "census.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)


def write_pool(name, rule, rows):
    with open(os.path.join(HERE, "pools", name + ".txt"), "w") as f:
        f.write(f"# {name} pool: {rule}\n")
        f.write("# Written by perfbench/record.py pools. One id per line; a run executes\n"
                "# every id, in an order drawn from its seed.\n")
        for qid, key in rows:
            f.write(f"{qid}\t{key}\n")


def pools():
    with open(os.path.join(ROOT, "bench_last.json")) as f:
        board = json.load(f)["queries"]
    with open(os.path.join(HERE, "pools", "census.json")) as f:
        cen = json.load(f)["queries"]
    ids = list_ids()
    steady = {q: statistics.median(c["seconds"][3:]) for q, c in cen.items()}
    groups = [["GraphOps"], ["KMeansOps", "MlTrees"], ["Streams"]]
    iterative = []
    for g in groups:
        members = [q for q in cen if any(q in ids[p] for p in g)
                   and cen[q]["jobs"] >= JOB_THRESHOLD and steady[q] <= CENSUS_CAP_S]
        iterative.append(min(members, key=lambda q: (-cen[q]["jobs"], steady[q], q)))
    write_pool("iterative",
               f"from each of GraphOps, KMeansOps with MlTrees, and streaming.Streams, the "
               f"query with the most Spark jobs per execution among those with at least "
               f"{JOB_THRESHOLD} jobs and at most {CENSUS_CAP_S} s per execution (median of the "
               f"timed passes) in the census at {run.SF} (pools/census.json); ties go to the "
               "cheaper. The column is jobs.",
               [(q, cen[q]["jobs"]) for q in iterative])
    oracle = sorted((q for q, has in ids["all"] if has and board[q] <= WRITE_CAP_S),
                    key=lambda q: (board[q], q))
    bounds = [round(i * len(oracle) / WRITE_K) for i in range(WRITE_K + 1)]
    picks = [oracle[(bounds[i] + bounds[i + 1]) // 2] for i in range(WRITE_K)]
    write_pool("verify_write",
               f"the oracle-bearing declared queries that took at most {WRITE_CAP_S} s on the "
               f"committed board (bench_last.json), ordered by those seconds and cut into "
               f"{WRITE_K} equal strata; the middle query of each stratum. The column is board "
               "seconds.", [(q, board[q]) for q in picks])


def record_once(ids):
    """Fingerprints and preverify verdicts of one clean recording."""
    data = os.path.join(HERE, "data", run.SF)
    d = scratch()
    try:
        _, res = run.run_jvm(["mode=record", f"sf={data}", f"ids={','.join(ids)}",
                              f"writeDir={os.path.join(d, 'out')}", f"cpus={os.cpu_count()}"],
                             0, d, timeout=3000)
        pv = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "preverify.py"),
                             data, os.path.join(d, "out")],
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        bad = [l.split()[1].rstrip(":") for l in pv.stdout.splitlines() if l.startswith("FAIL")]
        return {qid: (live, written, err) for qid, live, written, err in res}, bad
    finally:
        subprocess.run(["rm", "-rf", d])


def expected():
    ids = sorted({q for n in run.WORKLOADS for q in run.read_pool(n)})
    (r1, bad1), (r2, bad2) = record_once(ids), record_once(ids)
    fps, nondet, problems = {}, {}, {}
    for q in ids:
        errs = [r[q][2] for r in (r1, r2) if r[q][2]]
        if errs:
            problems[q] = errs[0]
            continue
        fps[q] = {"live": r1[q][0], "written": r1[q][1]}
        if r1[q][:2] != r2[q][:2]:
            nondet[q] = [r1[q][0], r1[q][1], r2[q][0], r2[q][1]]
    for q in set(bad1) | set(bad2):
        problems[q] = "scripts/preverify.py mismatch against DuckDB"
    out = {"note": f"fingerprints (rows:sum lo32:sum hi32:xor of xxhash64) at {run.SF} of the "
                   "live result and of the result written the Verify way and read back, from "
                   "two clean recordings whose written outputs passed scripts/preverify.py; "
                   "nondeterministic lists live, written, live, written",
           "fingerprints": fps, "nondeterministic": nondet, "problems": problems}
    with open(os.path.join(HERE, "expected", run.SF + ".json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"{run.SF}: {len(fps)} fingerprints, {len(nondet)} nondeterministic, "
          f"{len(problems)} problems {sorted(problems)}", flush=True)


def selfcheck():
    ids = list_ids()
    declared = {q for q, _ in ids["all"]}
    with open(os.path.join(HERE, "pools", "census.json")) as f:
        cen = json.load(f)["queries"]
    ok = True
    for name, w in run.WORKLOADS.items():
        pool = run.read_pool(name)
        exp, _ = run.load_expected(w["action"])
        missing = [q for q in pool if q not in declared]
        unexpected = [q for q in pool if q not in exp]
        same = all(run.draw(pool, s) == run.draw(pool, s) for s in range(50))
        distinct = len({tuple(run.draw(pool, s)) for s in range(50)})
        print(f"{name}: {len(pool)} ids, not declared {missing}, no fingerprint {unexpected}, "
              f"same seed same order {same}, {distinct}/50 distinct orders")
        ok &= not missing and not unexpected and same and distinct > 1
    weak = [q for q in run.read_pool("iterative") if cen[q]["jobs"] < JOB_THRESHOLD]
    print(f"iterative members under {JOB_THRESHOLD} jobs in the census: {weak}")
    ok &= not weak
    sys.exit(0 if ok else 1)


def main():
    cmd = sys.argv[1] if len(sys.argv) > 1 else ""
    build.build()
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    if cmd == "census":
        census()
    elif cmd == "pools":
        pools()
    elif cmd == "expected":
        expected()
    elif cmd == "selfcheck":
        selfcheck()
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
