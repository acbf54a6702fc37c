#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the bench from source, runs one
workload in one JVM and prints one JSON result as the last stdout line.

    python3 perfbench/run.py --workload <resolve_full|fold_chain> --seed <n>
                             --seconds <s> --trace <0|1>
                             [--scale full|tiny] [--corrupt-matchid]

Run it from the root of a source tree of the repository. The first run
compiles with sbt (offline) and caches the classpath under perfbench/.build;
later runs reuse it while the sources are unchanged. Inputs and engine state
live under perfbench/.work and are deleted after each run; traced runs leave
their span file and layer table under perfbench/out.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")

WORKLOADS = ("resolve_full", "fold_chain")
PINNED_PROPS = ("graft.fold.broadcast.max", "graft.keys.compact.len")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 165
HEAP = "3g"

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads from the repository and the bench."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile with sbt unless the cached classpath matches the sources."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and bench with sbt (offline)")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out", 1)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"sbt build failed (exit {p.returncode})", 1)
    cp = lines[-1].strip()
    entries = cp.split(os.pathsep)
    if not all(os.path.exists(e) for e in entries):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("sbt did not print a usable classpath", 1)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt-matchid", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "BENCHMARK.json"))):
        fail(f"{ROOT} is not a source tree of the engine (build.sbt, src/main/scala/graft)")
    unpinned = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    unpinned += [p for p in PINNED_PROPS
                 for v in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")
                 if p in os.environ.get(v, "")]
    if unpinned:
        fail("refusing to run, these reshape the measured program: " + ", ".join(unpinned))

    stamp = fingerprint()
    cp = build(stamp)
    deadline = time.time() + RUN_TIMEOUT_S

    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_GRAFT_TMPFS"] = "0"  # shuffle files stay under perfbench/.work
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-XX:+UseG1GC", "-Xms1g", f"-Xmx{HEAP}",
              "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
              f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dperfbench.source={stamp}", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", OUT, "--scale", a.scale]
           + (["--corrupt-matchid"] if a.corrupt_matchid else []))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"stopped by signal {signum}", 1)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("benchmark JVM timed out", 1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    sys.stderr.write("".join(ln + "\n" for ln in lines[:-1]))
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM failed (exit {proc.returncode})", 1)
    res = json.loads(lines[-1])
    missing = [n for n in metric_names(a.trace) if n not in res["metrics"]]
    if missing:
        fail("metrics missing from the run: " + ", ".join(missing), 1)
    res["metrics"] = {n: res["metrics"][n] for n in metric_names(a.trace)}
    print(json.dumps(res))


if __name__ == "__main__":
    main()
