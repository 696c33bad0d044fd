#!/usr/bin/env python3
"""Run one benchmark workload against the checkout it sits in.

    python3 perfbench/run.py --workload profile|catalog \
        --seed N --seconds S --trace 0|1

Run from the root of the checkout. The first run builds the program
and the harness from source (sbt, perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. The last line of
stdout is the result JSON; see perfbench/NOTES.md.
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
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
BUILD_LIMIT_S = 850
RUN_LIMIT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_limited(cmd, cwd, env, limit_s, stdout):
    """Run `cmd` in its own process group; kill the group past `limit_s`."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {limit_s} s")
    return p.returncode, out


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        bin_dir = os.path.dirname(os.path.realpath(shutil.which("spark-submit")))
        env["SPARK_HOME"] = os.path.dirname(bin_dir)
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    code, out = run_limited(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        HERE, env, BUILD_LIMIT_S, subprocess.PIPE)
    lines = out.decode(errors="replace").splitlines()
    if code != 0 or not lines or "/classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["profile", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    if not os.path.isfile(os.path.join(ROOT, "data", "al092016_track.csv")):
        fail("data/al092016_track.csv is missing")
    os.makedirs(WORK, exist_ok=True)
    classpath = build()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", run_dir, "--size", a.size, "--corrupt", str(a.corrupt)]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    try:
        code, out = run_limited(cmd, ROOT, env, RUN_LIMIT_S, subprocess.PIPE)
        lines = out.decode(errors="replace").splitlines()
        trace = os.path.join(run_dir, f"trace-{a.workload}.jsonl")
        if os.path.exists(trace):
            shutil.copy(trace, os.path.join(WORK, f"trace-{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"harness exited with {code}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
