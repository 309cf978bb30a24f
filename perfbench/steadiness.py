#!/usr/bin/env python3
"""Check that the benchmark is steady enough to judge a change by.

    python3 perfbench/steadiness.py

Runs every workload of BENCHMARK.json ten times per set, each run with its
own seed, for two sets one after the other. For each end-to-end metric it
reports the ten values, their median and quartiles (statistics.quantiles,
n=4) and the spread (q3 - q1) / median. A metric is steady when every
spread stays within its bound and the second set's median differs from
the first set's by no more than the bound, in either direction. Host
diagnostics (host.calib_s, host.steal_s) are recorded per run but not
judged. Each proof is written to its own receipt,
perfbench/receipts/steadiness-<UTC time>.json, so earlier receipts are
kept; the script prints a summary and exits 1 when a check fails.
"""
import json
import os
import re
import statistics
import subprocess
import sys
import time

import run

RUNS = 10
SETS = 2
RECEIPTS = os.path.join(run.BENCH, "receipts")
HOST = re.compile(r"^# host\.calib_s ([0-9.]+) s .*host\.steal_s ([0-9.]+) s")


def one_run(workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(run.BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"{workload} seed {seed} failed (exit {p.returncode})")
    res = json.loads(lines[-1])
    row = {"seed": seed, "wall_s": round(time.monotonic() - t0, 1),
           "metrics": {k: v["value"] for k, v in res["metrics"].items()}}
    for l in lines:
        m = HOST.match(l)
        if m:
            row["host.calib_s"], row["host.steal_s"] = float(m.group(1)), float(m.group(2))
    return row


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    out = os.path.join(RECEIPTS, time.strftime("steadiness-%Y%m%dT%H%MZ.json", time.gmtime()))

    sets = []
    for s in range(SETS):
        runs = {w: [one_run(w, 1000 * (s + 1) + i, bench["run_seconds"]) for i in range(RUNS)]
                for w in workloads}
        sets.append(runs)

    ok = True
    report = {"runs_per_set": RUNS, "sets": []}
    for s, runs in enumerate(sets):
        entry = {}
        for w, rows in runs.items():
            stats = {m["name"]: summary([r["metrics"][m["name"]] for r in rows]) for m in metrics}
            for h in ("host.calib_s", "host.steal_s"):
                stats[h] = summary([r[h] for r in rows])
            entry[w] = {"runs": rows, "stats": stats}
        report["sets"].append(entry)

    print(f"{'workload':16s} {'metric':10s} {'bound':>6s} " +
          " ".join(f"{'set' + str(i + 1) + ' median':>13s} {'spread':>7s}" for i in range(SETS)) +
          f" {'shift':>7s}")
    for w in workloads:
        for m in metrics:
            n, bound = m["name"], m["bound"]
            st = [report["sets"][i][w]["stats"][n] for i in range(SETS)]
            shift = st[1]["median"] / st[0]["median"] - 1
            bad = abs(shift) > bound or any(x["spread"] > bound for x in st)
            ok &= not bad
            print(f"{w:16s} {n:10s} {bound:6.2f} " +
                  " ".join(f"{x['median']:13.4f} {x['spread']:7.3f}" for x in st) +
                  f" {shift:+7.3f}{'  FAIL' if bad else ''}")
    report["steady"] = ok
    os.makedirs(RECEIPTS, exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {os.path.relpath(out, run.ROOT)}; steady: {ok}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
