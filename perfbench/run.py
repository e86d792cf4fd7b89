#!/usr/bin/env python3
"""Entity-resolution benchmark entry point.

    python3 perfbench/run.py --workload <batch_skew|batch_ckpt> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first call builds the
engine and the benchmark driver from source with sbt (into `.bench_build/`
and the sbt `target/` directories); later calls reuse that build while the
sources are unchanged. The driver then runs in one JVM sized for this host,
and its last stdout line is the JSON result.
"""
import argparse
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("batch_skew", "batch_ckpt")

BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def machine():
    """Cores, shuffle partitions and JVM heap, all derived from the host."""
    cores = len(os.sched_getaffinity(0))
    mem_gib = 4
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_gib = int(line.split()[1]) // (1 << 20)
    heap_gib = max(2, min(8, mem_gib // 4))
    return cores, cores, heap_gib


def source_files():
    roots = [(ROOT, ["build.sbt", "project/build.properties"], "src/main"),
             (HERE, ["build.sbt", "project/build.properties"], "src/main")]
    for base, files, tree in roots:
        for f in files:
            yield os.path.join(base, f)
        for d, _, names in sorted(os.walk(os.path.join(base, tree))):
            for n in sorted(names):
                yield os.path.join(d, n)


def build():
    """Compiles engine and driver; returns the runtime classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the repository")
    h = hashlib.sha256()
    for p in source_files():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    # The build resolves only from local caches; it never goes to the network.
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except FileNotFoundError:
            fail("sbt not found on PATH")
        except subprocess.TimeoutExpired:
            fail(f"build exceeded {BUILD_TIMEOUT_S} s; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1] + "\n")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    cores, partitions, heap_gib = machine()
    work = os.path.join(BUILD, "work", a.workload)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap_gib}g", "-Xss16m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--partitions", str(partitions),
            "--work", work]
    log_path = os.path.join(BUILD, f"{a.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}")
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{\"correct\""):
        sys.stderr.write(out[-4000:])
        fail(f"run failed (exit {proc.returncode}); see {log_path}")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
