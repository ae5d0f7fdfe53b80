#!/usr/bin/env python3
"""Run one workload of the user-path benchmark.

    python3 userbench/run.py --workload ingest|serve --seed N \
        [--seconds S] [--trace 0|1]
    python3 userbench/run.py --selftest

Run from the repository root. The first call builds the benchmark together
with the program's sources (sbt, offline) into userbench/.build; later
calls reuse that build while no source changed. Every run gets a fresh
working directory, Spark local dir, temp dir and tables dir under
userbench/.work, deleted afterwards; the full run record is kept in
userbench/.work/records. The last stdout line is the run's JSON summary.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
RECORDS = os.path.join(WORK, "records")

BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the program's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]

SBT_OPTS = "-Dsbt.offline=true -Xmx2g"


def fail(msg):
    print(f"[userbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            for f in fs:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(HERE, f)


def source_stamp():
    h = hashlib.sha256()
    for f in sorted(source_files()):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n"
                 .encode())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC)}"
             " — run from a checkout of the repository")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", SBT_OPTS)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cp:
        fail(f"build failed; see {os.path.relpath(log, ROOT)}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, main_args, tag):
    """Run the benchmark JVM in a fresh state directory; return its exit
    code, stdout and log path."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-Duser.timezone=UTC",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", cp, "graft.userbench.Main"] + main_args(run_dir)
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see "
                 f"{os.path.relpath(log_path, ROOT)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    return proc.returncode, out, log_path


def overhead_line(workload, seed, record):
    """Traced vs untraced cycle time, when an untraced record of the same
    workload and seed is at hand."""
    base = os.path.join(RECORDS, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(base):
        return None
    with open(base) as f:
        untraced = json.load(f)["summary"]["metrics"]["cycle_s"]["value"]
    traced = record["metrics"]["traced.cycle_s"]["value"]
    return (f"tracing overhead ({workload}, seed {seed}): cycle_s traced "
            f"{traced:.3f} s vs untraced {untraced:.3f} s "
            f"({100 * (traced / untraced - 1):+.1f}%)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["ingest", "serve"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")
    cp = build()
    if a.selftest:
        code, out, _ = run_jvm(
            cp, lambda d: ["--selftest", "--root", d], "selftest")
        print(out, end="")
        sys.exit(code)
    os.makedirs(RECORDS, exist_ok=True)
    rec = os.path.join(RECORDS,
                       f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(rec):
        os.remove(rec)
    code, out, log = run_jvm(cp, lambda d: [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--root", d, "--out", rec], f"{a.workload}-seed{a.seed}-trace{a.trace}")
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"no result from the run (exit {code}); see "
             f"{os.path.relpath(log, ROOT)}")
    for l in lines[:-1]:
        print(l)
    if a.trace:
        line = overhead_line(a.workload, a.seed, result)
        if line:
            print(line)
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()
