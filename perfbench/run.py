#!/usr/bin/env python3
"""KG-build benchmark entry point.

    python3 perfbench/run.py --workload kg-pages|kg-names --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness from
source with sbt (once per source state; the classpath is cached under
.bench_build/), runs one workload in a fresh JVM with all of its state in
a per-run directory under .bench_build/runs/ (deleted afterwards), and
prints the harness's JSON result as the last line of stdout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("kg-pages", "kg-names")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine and harness sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd, killing it (and waiting for it) if it outlives timeout."""
    proc = subprocess.Popen(cmd, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        return None, None


def build():
    """Compiles with sbt when the sources changed; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(STATE, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    with open(os.path.join(STATE, "build.log"), "w") as logf:
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
            stderr=logf, stdin=subprocess.DEVNULL, text=True)
        if out:
            logf.write(out)
    if code != 0:
        log(f"sbt build failed (exit {code}); see .bench_build/build.log")
        sys.exit(1)
    lines = [l.strip() for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        log("sbt printed no classpath")
        sys.exit(1)
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no engine sources here: run from the root of a repository checkout")
        sys.exit(2)
    os.makedirs(STATE, exist_ok=True)
    cp = build()
    started = time.time()

    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
    env = dict(os.environ)
    env["GRAFT_ANN_INDEX_ROOT"] = os.path.join(run_dir, "ann-index")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dderby.system.home=" + os.path.join(run_dir, "derby")]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--run-dir", run_dir, "--out-dir", os.path.join(STATE, "results")])
    log_path = os.path.join(STATE, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    budget = RUN_TIMEOUT_S - (time.time() - started)
    try:
        with open(log_path, "w") as logf:
            code, out = run_bounded(cmd, budget, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                    stderr=logf, stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        log(f"run exceeded {budget:.0f} s and was stopped; see {log_path}")
        sys.exit(1)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        log(f"harness exited {code} without a result line; see {log_path}")
        sys.exit(1)
    if code != 0:
        log(f"harness exited {code}; see {log_path}")
        sys.exit(1)
    print(lines[-1])


if __name__ == "__main__":
    main()
