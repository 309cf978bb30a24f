#!/usr/bin/env python3
"""The benchmark's own test of its correctness gate.

    python3 perfbench/test_gate.py

1. A planted wrong golden digest must fail the run: the result line says
   "correct": false with at least one failure, the exit code is 1, and the
   query is named on stderr.
2. In a directory holding only BENCHMARK.json and perfbench/, the benchmark
   must exit with a non-zero code and print no result.
Takes about two minutes (one llm_dedup run of about 80 s).
"""
import json
import os
import shutil
import subprocess
import sys

import run

VICTIM = "q_dedup_simhash"


def planted_wrong_golden():
    with open(os.path.join(run.BENCH, "goldens.json")) as f:
        goldens = json.load(f)
    digest = goldens[VICTIM]["sha256"]
    goldens[VICTIM]["sha256"] = ("0" if digest[0] != "0" else "1") + digest[1:]
    os.makedirs(run.BUILD, exist_ok=True)
    path = os.path.join(run.BUILD, "planted_goldens.json")
    with open(path, "w") as f:
        json.dump(goldens, f)
    p = subprocess.run(
        [sys.executable, os.path.join(run.BENCH, "run.py"), "--workload", "llm_dedup",
         "--seed", "1", "--seconds", "1", "--trace", "0", "--goldens", path],
        cwd=run.ROOT, capture_output=True, text=True, timeout=900)
    os.remove(path)
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert p.returncode == 1, f"exit {p.returncode}, expected 1"
    assert res["correct"] is False and res["failed"] >= 1, res
    assert f"WRONG RESULT {VICTIM}" in p.stderr, "the wrong query is not named"
    print(f"ok: planted wrong golden for {VICTIM} failed the run "
          f"({res['failed']} of {res['attempted']} operations)")


def refuses_without_repository():
    lone = os.path.join(run.BUILD, "lone")
    shutil.rmtree(lone, ignore_errors=True)
    shutil.copytree(run.BENCH, os.path.join(lone, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    bench_json = os.path.join(run.ROOT, "BENCHMARK.json")
    if os.path.exists(bench_json):
        shutil.copy(bench_json, lone)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "llm_dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"], cwd=lone, capture_output=True, text=True, timeout=180)
    shutil.rmtree(lone)
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    print(f"ok: without the repository the benchmark exits {p.returncode} and prints no result")


if __name__ == "__main__":
    refuses_without_repository()
    planted_wrong_golden()
