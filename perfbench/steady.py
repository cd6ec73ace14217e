#!/usr/bin/env python3
"""Steadiness of one workload: run it n times as two sets and compare.

    python3 perfbench/steady.py --workload W [--runs 20] [--seconds 10]
                                [--seed 1] [--trace 0|1] [--json FILE]

Run from the repository root. Run i uses seed `--seed + i`; the first
half of the runs is set A, the second half set B. For every end-to-end
metric it prints each set's median and quartiles, the quartile spread
as a share of the median (the figure each BENCHMARK.json bound must
exceed), and the gap between the two medians. It also prints the share
of failed operations per set, which must be identical, the spread over
all runs (the figure the bounds are checked against), and the same
statistics for the workload's own figures (the `detail` line), which is
how the tracing overhead is read: run once with --trace 0 and once with
--trace 1 and compare the detail medians.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def one(workload, seed, seconds, trace):
    t = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    res = json.loads(line) if line.startswith("{") else {}
    detail = {}
    for x in p.stderr.splitlines():
        if x.startswith('[perfbench] {"detail"'):
            detail = json.loads(x[len("[perfbench] "):])["detail"]
    return {"seed": seed, "code": p.returncode, "wall_s": time.time() - t, "result": res,
            "detail": detail, "stderr_tail": p.stderr.strip().splitlines()[-3:]}


def quart(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summary(runs, names, pick):
    out = {}
    for n in names:
        xs = [pick(r, n) for r in runs]
        xs = [x for x in xs if isinstance(x, (int, float))]
        if xs:
            q1, med, q3 = quart(xs)
            out[n] = {"median": med, "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / med if med else float("nan"), "n": len(xs)}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=20)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", default=None)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    runs = []
    for i in range(a.runs):
        r = one(a.workload, a.seed + i, seconds, a.trace)
        runs.append(r)
        res = r["result"]
        print(f"run {i + 1}/{a.runs} seed {r['seed']}: exit {r['code']} in {r['wall_s']:.1f} s, "
              f"correct {res.get('correct')}, failed {res.get('failed')}/{res.get('attempted')}",
              file=sys.stderr, flush=True)
        if r["code"] != 0:
            print("  " + "\n  ".join(r["stderr_tail"]), file=sys.stderr)
    half = a.runs // 2
    sets = {"A": runs[:half], "B": runs[half:], "all": runs}

    def metric(r, n):
        return r["result"].get("metrics", {}).get(n, {}).get("value")

    def detail(r, n):
        return r["detail"].get(n)

    names = sorted({n for r in runs for n in r["result"].get("metrics", {})})
    dnames = sorted({n for r in runs for n, v in r["detail"].items() if isinstance(v, (int, float))})
    report = {"workload": a.workload, "seconds": seconds, "trace": a.trace,
              "run_wall_s": summary(runs, ["wall"], lambda r, _: r["wall_s"]),
              "sets": {k: {"metrics": summary(v, names, metric), "detail": summary(v, dnames, detail),
                           "failed_share": sorted({r["result"].get("failed", 0) / max(1, r["result"].get("attempted", 1))
                                                   for r in v}),
                           "all_correct": all(r["result"].get("correct") for r in v)}
                       for k, v in sets.items()}}

    print(f"\n{a.workload}: {a.runs} runs of {seconds} s, trace {a.trace}; "
          f"run wall median {report['run_wall_s']['wall']['median']:.1f} s")
    print(f"{'metric':34} {'A median':>11} {'A q1..q3':>23} {'A spr':>6} {'B median':>11} "
          f"{'B spr':>6} {'gap':>7} {'all spr':>7} {'bound':>6}")
    for kind, table in (("metric", names), ("detail", dnames)):
        for n in table:
            sa, sb, sall = (report["sets"][s][kind + ("s" if kind == "metric" else "")].get(n)
                            for s in ("A", "B", "all"))
            if not sa or not sb:
                continue
            gap = (sb["median"] - sa["median"]) / sa["median"] if sa["median"] else float("nan")
            b = bounds.get(n) if kind == "metric" else None
            print(f"{(n if kind == 'metric' else '  ' + n)[:34]:34} {sa['median']:11.4g} "
                  f"{sa['q1']:11.4g}..{sa['q3']:<11.4g} {sa['spread']:6.1%} {sb['median']:11.4g} "
                  f"{sb['spread']:6.1%} {gap:+7.1%} {sall['spread']:7.1%} "
                  f"{'' if b is None else f'{b:.2f}':>6}")
    for s in ("A", "B"):
        print(f"set {s}: failed shares {report['sets'][s]['failed_share']}, "
              f"all correct {report['sets'][s]['all_correct']}")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump({"report": report, "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
