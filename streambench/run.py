#!/usr/bin/env python3
"""Run one workload of the stream pipeline benchmark.

    python3 streambench/run.py --workload drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the program from
the checkout's sources together with the benchmark's own code (sbt, offline)
into .bench_build/; later runs reuse that build while the sources are
unchanged. Each run starts one JVM sized from the machine, forwards its
report, and ends with the JVM's one-line JSON result. The exit code is
non-zero, without a result line, when the build or the run fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
                 os.path.join(BENCH, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark installation's jars: $SPARK_HOME/jars, else the jars beside
    the first spark-submit on PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("no Spark installation found (set SPARK_HOME)")


def build():
    """Compile once per source state; return the runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building the program and the benchmark (sbt compile)")
    proc = subprocess.run(
        # sbt's own global state (settings, server socket) stays in the checkout
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
         "-Djna.tmpdir=" + os.path.join(BUILD, "jna"), "-J-XX:-UsePerfData",
         "-Dspark.jars.dir=" + spark_jars(),
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-6000:])
        raise SystemExit("build failed")
    cp = cps[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def heap():
    """Heap as the tier-1 test command derives it: MemTotal/2, 2g..8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["drain", "paced", "windowed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala")):
        log(f"no program sources at {PROGRAM_SRC}; run from a full checkout")
        return 2
    try:
        cp = build()
    except (SystemExit, subprocess.TimeoutExpired, OSError) as e:
        log(f"build failed: {e}")
        return 3

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    local_dirs = os.path.join(run_dir, "spark-local")
    os.makedirs(local_dirs)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local_dirs)
    mem = heap()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{mem}", f"-Xms{mem}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir}",
            "-cp", cp, "streambench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--out", os.path.join(BUILD, "out")])
    log(f"java -Xmx{mem} streambench.Main --workload {a.workload} --seed {a.seed} "
        f"--seconds {a.seconds} --trace {a.trace} --cores {cores}")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s; killed")
        return 4
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.rstrip("\n").splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for line in lines[:-1] if result else lines:
        print(line)
    if result is None:
        log(f"no result line (exit code {proc.returncode})")
        return proc.returncode or 5
    print(result, flush=True)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
