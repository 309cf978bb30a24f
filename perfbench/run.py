#!/usr/bin/env python3
"""Run one benchmark workload against the repository in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the repository and the harness in perfbench/ with sbt on first use
(the classpath is cached under .bench_build/perfbench and rebuilt whenever
a source or build file changes), then runs the workload in one JVM. The
JVM prints a report; the last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

Workloads: llm_dedup, tail_upsert. Exit code 0 means every
output matched its expected value; a wrong output still prints the result
(with "correct": false) and exits 1. Without the repository's sources next
to perfbench/, nothing runs and the exit code is 2.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
STAMP = os.path.join(BUILD, "classpath.json")
WORKLOADS = ("llm_dedup", "tail_upsert")
HEAP = "2g"
BUILD_TIMEOUT_S = 840

# what SparkSession needs on JDK 17 outside spark-submit (the repository's
# build.sbt passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change calls for a rebuild, relative to ROOT."""
    out = []
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    out += ["build.sbt", "perfbench/build.sbt"]
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} exceeded {timeout:.0f} s and was stopped", 1)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def classpath():
    """The harness classpath, building first when sources changed."""
    fp = fingerprint()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"], False
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    rc, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env(),
                        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(l for l in out.splitlines() if l.startswith("[error]")))
        die("build failed", 1)
    cp = lines[-1].strip()
    with open(STAMP, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp, True


def java_cmd(cp, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + opens + [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}/derby",
        f"-Dderby.stream.error.file={work}/derby.log",
        f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
        "-cp", cp, "perfbench.Main"] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--goldens", help="golden digest file (default perfbench/goldens.json)")
    a = ap.parse_args()

    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            die(f"{rel} not found: run from a checkout of the repository")

    t0 = time.monotonic()
    cp, built = classpath()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(work, d))
    result = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace,
            "--cores", str(max(1, len(os.sched_getaffinity(0)) - 1)),
            "--root", ROOT, "--work", work, "--result", result]
    if a.goldens:
        args += ["--goldens", os.path.abspath(a.goldens)]
    # the first run in a checkout may take 900 s because it builds; others 180 s
    budget = (900 if built else 180) - 10 - (time.monotonic() - t0)
    try:
        rc, out = run_group(java_cmd(cp, work, args), budget, cwd=ROOT,
                            stdout=subprocess.PIPE, text=True)
        sys.stdout.write(out)
        if rc != 0 or not os.path.exists(result):
            die(f"workload {a.workload} failed (exit {rc})", 1)
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res), flush=True)
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
