#!/usr/bin/env python3
"""Steadiness check of the benchmark on the current commit.

  python3 perfbench/steady.py [--runs 10] [--sets 2] [--workload NAME ...]
                              [--seed-base 1000]

Runs `--sets` sets of `--runs` untraced runs of each workload (each run
with its own seed; the sets use the same seeds) and reports, for each
end-to-end metric of BENCHMARK.json on each workload: every set's median
and quartiles, the spread (interquartile distance over the median), and
whether the sets agree within the metric's bound: each set's spread within
the bound and the second median no worse than the first by
more than the bound. Prints one JSON object; exits 1 if any check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"steady: {workload} seed {seed} failed ({out.returncode})")
    report = next((json.loads(l[len("report: "):]) for l in lines if l.startswith("report: ")), {})
    return json.loads(lines[-1]), report


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "values": values}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    out = {"seconds": seconds, "runs": a.runs, "sets": a.sets, "workloads": {}}
    ok_all = True
    for w in workloads:
        sets, hosts, failures = [], [], 0
        for s in range(a.sets):
            vals = {}
            for i in range(a.runs):
                res, rep = run_once(w, a.seed_base + i, seconds)
                failures += res["failed"]
                hosts.append(rep.get("host"))
                for k, m in res["metrics"].items():
                    vals.setdefault(k, []).append(m["value"])
                print(f"[steady] {w} set {s} run {i}: " + json.dumps(
                    {k: round(m['value'], 4) for k, m in res['metrics'].items()}),
                    file=sys.stderr, flush=True)
            sets.append(vals)
        verdict = {}
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sums = [summary(st[name]) for st in sets]
            lower = m["better"] == "lower"
            first, last = sums[0]["median"], sums[-1]["median"]
            drift = (last - first) / first if lower else (first - last) / first
            spread_ok = all(x["spread"] <= bound for x in sums)
            agree = drift <= bound
            verdict[name] = {"sets": sums, "bound": bound, "drift": drift,
                             "spread_ok": spread_ok, "agree": agree,
                             "spread_under_third": all(x["spread"] <= bound / 3 for x in sums)}
            ok_all &= spread_ok and agree
        out["workloads"][w] = {"metrics": verdict, "failed_ops": failures, "host": hosts}
        ok_all &= failures == 0
    out["ok"] = ok_all
    print(json.dumps(out))
    sys.exit(0 if ok_all else 1)


if __name__ == "__main__":
    main()
