#!/usr/bin/env python3
"""Run one workload of the graft workload benchmark.

    python3 perfbench/run.py --workload tokens --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call builds the engine and the
benchmark from source with sbt (perfbench/build.sbt) and caches the class
path; later calls reuse it while no source file has changed. The JVM runs
Spark as local[N], N = min(3, CPUs - 1), as one closed-loop client.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics (end-to-end metrics with --trace 0, per-layer metrics
with --trace 1). The line before it records the host: nproc, Spark master
and the load average at the start and end of the run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("tokens", "generic_ops")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark runs local[N] with one CPU left for the driver thread, JIT and GC,
# and at most 3 task threads so figures compare across hosts.
MAX_CORES = 3

# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return home
    submit = shutil.which("spark-submit")
    if submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found (set SPARK_HOME)", 2)


def source_stamp(root):
    """Hash of every file the build reads, by path, size and mtime."""
    h = hashlib.sha1()
    for top in ("src/main", "perfbench/src", "perfbench/project/build.properties",
                "perfbench/build.sbt"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, env):
    """Compile with sbt unless the cached class path matches the sources."""
    bench = os.path.join(root, "perfbench")
    out_dir = os.path.join(bench, "target")
    cp_file = os.path.join(out_dir, "perfbench-classpath.txt")
    stamp_file = os.path.join(out_dir, "perfbench-stamp.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    t0 = time.time()
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=bench, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        fail("build failed", 3)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith(os.path.join(bench, "target")) and ":" in ln]
    if not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no class path", 3)
    cp = lines[-1].strip()
    os.makedirs(out_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repo root", 2)

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = "-Dsbt.offline=true -Xmx2g"
        if os.path.exists(repos):
            opts = ("-Dsbt.override.build.repos=true "
                    f"-Dsbt.repository.config={repos} " + opts)
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + opts).strip()
    cp = build(root, env)

    work = os.path.join(root, ".bench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0)) - 1))
    argfile = os.path.join(work, f"jvm-args-{os.getpid()}.txt")
    log_conf = os.path.join(root, "perfbench", "log4j2.properties")
    jvm = ["-Xmx" + HEAP, "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={log_conf}", "-cp", cp]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    with open(argfile, "w") as f:
        f.write("\n".join(f'"{a}"' for a in jvm) + "\n")

    load_start = os.getloadavg()
    cmd = ["java", "@" + argfile, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--root", root]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        os.remove(argfile)
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 4)
    os.remove(argfile)
    load_end = os.getloadavg()

    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        fail(f"benchmark JVM exited with {proc.returncode}", 5)
    host = {"nproc": os.cpu_count(), "cpus_usable": len(os.sched_getaffinity(0)),
            "spark_master": f"local[{cores}]",
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in load_end]}
    print(json.dumps({"host": host}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
