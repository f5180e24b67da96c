#!/usr/bin/env python3
"""Build and run one benchmark workload.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run compiles the library's
sources together with the benchmark (sbt, offline) into `perfbench/target`;
later runs reuse the build while no source changed. Every run starts one
JVM on `local[nproc]`, keeps its stores and CSVs under `.bench_build/tmp`
(deleted on exit) and writes its detail report and spans to
`.bench_build/reports`. The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
HEAP = "3g"
# Spark 4 on JDK 17 needs these outside spark-submit (the set
# org.apache.spark.launcher.JavaModuleOptions passes).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(f for f in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                        if os.path.isfile(f))
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile unless the classes match the current sources. Returns
    True when a build ran."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources (src/main/scala/graft) next to the benchmark")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp(sources())
        stamp_file = os.path.join(OUT, "build.stamp")
        if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == want:
            return False
        env = dict(os.environ, COURSIER_MODE="offline")
        # sbt's own state goes under .bench_build; dependencies come from
        # the machine's offline coursier cache
        sbt_home = os.path.join(OUT, "sbt")
        opts = ["-Dsbt.offline=true", "-Xmx2g",
                f"-Dsbt.global.base={sbt_home}/global", f"-Dsbt.boot.directory={sbt_home}/boot",
                f"-Dsbt.ivy.home={sbt_home}/ivy"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log_path = os.path.join(OUT, "build.log")
        with open(log_path, "w") as log:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=800).returncode
        if rc != 0:
            sys.stderr.write(open(log_path).read()[-4000:])
            fail(f"build failed (sbt exit {rc})", 1)
        with open(stamp_file, "w") as fh:
            fh.write(want)
        return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    built = build()
    budget = (880 if built else 175) - (time.time() - started)

    spark_jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    tmp = os.path.join(OUT, "tmp", f"run-{os.getpid()}")
    reports = os.path.join(OUT, "reports")
    os.makedirs(reports, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT", "SPARK_LOCAL", "SPARK_CONF"))}
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", f"{CLASSES}:{spark_jars}/*", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--tmp", tmp, "--report", reports]
    os.makedirs(tmp, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(OUT, f"{tag}.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {budget:.0f} s", 1)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited {proc.returncode}; see {log.name}", 1)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("benchmark printed no result", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 1)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
