#!/usr/bin/env python3
"""Run one workload of the graft benchmark, or its self-test.

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 7 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 7 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run builds the repository and the
benchmark from source with sbt (offline) and caches the classpath under
.bench_build/, keyed by a hash of every source and build file. Each run then
starts one fresh JVM with a pinned heap and collector on local[4]. The last
line of standard output is the JSON result (with --workload all, each
workload prints its own, and the exit code is non-zero if any run failed);
the result file (and, with --trace 1, the spans and per-call records) lands
in .bench_out/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")

WORKLOADS = ("graph_loops", "swing_recs", "pipeline_lifecycle")
HEAP = "3g"
GC = "-XX:+UseParallelGC"
JVM_TIMEOUT_S = 170
# what Spark needs opened on JDK 17 when it is not started by spark-submit
# (the same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# environment the child JVM must not inherit: the program's own knobs and
# Spark's local-dir override (which would move shuffle files out of the
# checkout). Each one seen is recorded in the stamp instead.
STRIPPED_ENV = ("SPARK_LOCAL_DIRS",)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to ROOT, in a stable order."""
    files = ["build.sbt", "perfbench/build.sbt", "perfbench/project/build.properties"]
    files += [os.path.join("project", f) for f in sorted(os.listdir(os.path.join(ROOT, "project")))
              if f.endswith((".sbt", ".scala", ".properties"))]
    for top in ("src/main", "perfbench/src"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            files += [os.path.relpath(os.path.join(dirpath, f), ROOT) for f in sorted(filenames)]
    return files


def source_sha():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_command():
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={BUILD}/sbt-global"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                "-Dsbt.offline=true"]
    return cmd + ["compile", "export Runtime/fullClasspath"]


def build(sha):
    """Compile the repository and the benchmark; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "source.sha256")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
            with open(stamp_file) as f:
                if f.read().strip() == sha:
                    with open(cp_file) as g:
                        return g.read().strip()
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS=os.environ.get("SBT_OPTS", "-Xmx2g"))
        t0 = time.time()
        proc = subprocess.run(sbt_command(), cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              timeout=800)
        lines = [l for l in proc.stdout.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
            sys.stderr.write(proc.stdout[-4000:])
            fail(f"build failed (sbt exit {proc.returncode})")
        entries = []
        for e in lines[-1].strip().split(os.pathsep):
            if e not in entries:
                entries.append(e)
        cp = os.pathsep.join(entries)
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(sha)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        return cp


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def stamp(args, sha):
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return {
        "cpus": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg_start": load,
        "git_commit": git_commit(),
        "source_sha256": sha,
        "seed": args.seed,
        "heap": HEAP,
        "gc_flag": GC,
        "spark_graft_env_seen": {k: v for k, v in sorted(os.environ.items())
                                 if k.startswith("SPARK_GRAFT_")},
        "stripped_env_seen": {k: os.environ[k] for k in STRIPPED_ENV if k in os.environ},
        "note": "no SPARK_GRAFT_* variable or stripped variable reaches the benchmark JVM",
    }


def child_env():
    return {k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_") and k not in STRIPPED_ENV}


def run_jvm(cp, work, jvm_args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", GC, f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + jvm_args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(), stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)

    def timeout(signum, frame):
        raise TimeoutError

    signal.signal(signal.SIGALRM, timeout)
    signal.alarm(JVM_TIMEOUT_S)
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        return proc.wait()
    except TimeoutError:
        fail(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    finally:
        # the JVM never outlives this launcher, whatever ends it
        signal.alarm(0)
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def interrupted(signum, frame):
    raise KeyboardInterrupt


def main():
    # SIGTERM unwinds like Ctrl-C, so sbt and the JVM are killed with us
    signal.signal(signal.SIGTERM, interrupted)
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=7)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not args.self_test and not args.workload:
        ap.error("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to perfbench/ (run from a full checkout)")

    sha = source_sha()
    cp = build(sha)
    if args.self_test:
        sys.exit(run_one(args, None, cp, sha))
    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    sys.exit(max(run_one(args, w, cp, sha) for w in workloads))


def run_one(args, workload, cp, sha):
    name = f"{workload}-seed{args.seed}-trace{args.trace}" if workload else "selftest"
    work = os.path.join(WORK, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    stamp_path = os.path.join(work, "stamp.json")
    with open(stamp_path, "w") as f:
        json.dump(stamp(args, sha), f)
    jvm_args = ["--seed", str(args.seed), "--work-dir", work, "--out-dir", OUT,
                "--stamp", stamp_path]
    if workload:
        jvm_args += ["--workload", workload, "--seconds", str(args.seconds),
                     "--trace", str(args.trace)]
    else:
        jvm_args.append("--self-test")
    try:
        return run_jvm(cp, work, jvm_args)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except KeyboardInterrupt:
        fail("interrupted")
