#!/usr/bin/env python3
"""Run one benchmark workload once and print its result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The engine and the harness are built with
sbt on first use (cached in .bench_build/ by a hash of their sources);
then the run generates its inputs from the seed, starts one harness JVM
that warms up and measures, checks every output against an independent
computation, and prints one JSON line: correct, attempted, failed and the
metrics (end-to-end ones untraced, per-layer ones with --trace 1).
Exits non-zero when the build, the run or a check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.relpath(os.path.dirname(os.path.abspath(__file__)), ROOT)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
DEADLINE_S = 170
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

# Timed work per 10 seconds of --seconds (upsert batches for ingest,
# served rounds for serve): whole rounds, fixed for a given --seconds, so
# two commits always measure the same amount of work.
WORK_PER_10S = {"ingest": 4, "serve": 2}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _sources():
    files = ["build.sbt", f"{HERE}/harness/build.sbt", f"{HERE}/harness/project/build.properties"]
    files += [os.path.join("project", n) for n in os.listdir("project")
              if n.endswith((".sbt", ".scala", ".properties"))]
    for top in ("src/main", f"{HERE}/harness/src"):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        fail("no engine sources here (build.sbt, src/main/scala): run from the repository root")
    h = hashlib.sha256()
    for f in _sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("digest") == digest and all(os.path.exists(p) for p in st["classpath"].split(":")):
            return st["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(ROOT, HERE, "harness"), stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=840)
        out.write(p.stdout)
    lines = [x for x in p.stdout.splitlines() if "harness" in x and "classes" in x and ":" in x]
    if p.returncode != 0 or not lines:
        fail(f"build failed (see {os.path.relpath(out.name, ROOT)})")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp


# ------------------------------------------------------------------ inputs

def make_inputs(workload, seed, inputs, work):
    """Write the workload's seeded inputs; return facts the checks need."""
    if workload == "serve":
        gen.lake(f"{inputs}/lake", seed, 10_000, 500, 500, 1000)
        return {}
    ops = gen.upsert_batches(f"{inputs}/upsert/main", seed, work, 20_000, 2, 2000)
    with open(f"{inputs}/upsert/main/ops.tsv", "w") as fh:
        for kind, f, rows, b in ops:
            if kind == "merge":
                t = time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                  time.gmtime(gen.T0_US // 1_000_000 + b * 3600))
                flt = f"filesystem eq 'fs{b % 4}' and lastModified ge {t}"
                fh.write(f"merge\t{f}\t{flt}\t{rows}\n")
            else:
                fh.write(f"delete\t{f}\t{rows}\n")
    facts = {"main": ops}
    # the scheduled indexer: one tick over the first of ten equal time
    # slices of a 100k-event stream whose folders fall under the five
    # partition prefixes; warm-up on a tiny snapshot
    sched = f"{inputs}/schedule"
    gen.schedule_snapshots(sched, seed + 1, 1000, 500, 150, 1, "warm", prefixes=5)
    snaps = gen.schedule_snapshots(sched, seed, 100_000, 5000, 1500, 10, "snap", prefixes=5)[:1]
    with open(f"{sched}/snapshots.txt", "w") as fh:
        fh.write("\n".join(snaps) + "\n")
    events = sum(gen.rows_of(f"{d}/events.parquet") for d in snaps)
    with open(f"{sched}/events.txt", "w") as fh:
        fh.write(f"{events}\n")
    facts["snapshots"] = snaps
    return facts


# ------------------------------------------------------------------ run

def calibration_ms():
    """A fixed CPU loop, timed: a stamp of the machine's speed right now."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return (time.perf_counter() - t) * 1e3


def run_jvm(cp, args, rundir, deadline):
    with open(os.path.join(rundir, "jvm.log"), "w") as out:
        p = subprocess.Popen(
            ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
             f"-Djava.io.tmpdir={rundir}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(ROOT, HERE, 'log4j2.properties')}",
             "-cp", cp, "perfbench.Main", *args],
            cwd=rundir, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness did not finish in time (log: {os.path.relpath(out.name, ROOT)})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORK_PER_10S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    cp = build()
    deadline = time.time() + DEADLINE_S
    work = max(1, round(WORK_PER_10S[a.workload] * a.seconds / 10))
    runs = os.path.join(BUILD, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    rundir = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}")
    inputs = os.path.join(rundir, "inputs")
    os.makedirs(os.path.join(rundir, "tmp"))
    env = {"env.nproc": float(os.cpu_count()), "env.loadavg_start": os.getloadavg()[0],
           "env.calibration_ms": calibration_ms()}
    cores = max(1, min(2, os.cpu_count() - 1))

    setup_start = time.time()
    facts = make_inputs(a.workload, a.seed, inputs, work)
    phases = {"gen_s": time.time() - setup_start}
    code = run_jvm(cp, ["--workload", a.workload, "--inputs", inputs, "--out", rundir,
                        "--trace", str(a.trace), "--seed", str(a.seed), "--work", str(work),
                        "--cores", str(cores)], rundir, deadline)
    if code != 0:
        fail(f"harness exited with {code} (log: {os.path.relpath(rundir, ROOT)}/jvm.log)")
    with open(os.path.join(rundir, "result.json")) as fh:
        res = json.load(fh)
    env["env.loadavg_end"] = os.getloadavg()[0]
    phases["jvm_s"] = time.time() - setup_start - phases["gen_s"]
    t = time.time()
    problems = checks.run(a.workload, res["checks"], facts, ROOT)
    phases["check_s"] = time.time() - t
    for p in problems:
        log(f"CHECK FAILED: {p}")
    report = {"workload": a.workload, "seed": a.seed, "work": work, "cores": cores,
              "detail": res["detail"], "env": env, "phases": phases, "problems": problems}
    with open(os.path.join(rundir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    log(json.dumps({"detail": res["detail"], "env": env}))

    if a.trace:
        values = {**res["layers"], **env}
        names = [m["name"] for m in spec["per_layer"]]
        missing = sorted(set(values) - set(names))
        if missing:
            fail(f"per-layer values without a BENCHMARK.json entry: {missing}")
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {**res["e2e"], "setup_s": res["setup_done_epoch_ms"] / 1e3 - setup_start}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
