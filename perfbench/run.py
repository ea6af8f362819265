#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <trace_api|registry_batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
harness from source (sbt, offline) into perfbench/target; later runs reuse
the build while the sources are unchanged. Each run is one fresh JVM with
local[N], N = the usable cores, and its own java.io.tmpdir under
perfbench/.runs that is deleted afterwards. The JVM prints every metric it
measured, by name, unit and sample count, and writes the full report to
perfbench/out/<workload>-s<seed>-t<trace>/report.json. The last line on
stdout is the result: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1.
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
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# a fixed heap and a fixed young generation (parallel collector) keep
# the resident-set high-water mark from following the collector's
# adaptive heap sizing; a fixed set of JIT compiler threads keeps their
# CPU time readable from /proc (no thread exits and takes its time along)
HEAP = "3g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """sha1 over the build inputs: library sources, harness, build files."""
    h = hashlib.sha1()
    roots = [LIB_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the installation that holds spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("set SPARK_HOME to the Spark installation")
    return home


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    if os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return
    print("perfbench: building (sbt compile)", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile"], cwd=HERE, env=sbt_env(),
                           stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)


def git_commit():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["trace_api", "registry_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    if not os.path.isdir(LIB_SRC):
        fail(f"library sources not found at {LIB_SRC}", 3)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if a.trace else "end_to_end"]
    digest = source_hash()
    build(digest)

    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    tmp = os.path.join(HERE, ".runs", f"{tag}-{os.getpid()}")
    out = os.path.join(HERE, "out", tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores),
            "--root", ROOT, "--out", out]
    env = dict(os.environ, SPARK_GRAFT_NO_TMPFS="1",
               SPARK_GRAFT_CPUS=str(cores))
    # a terminated benchmark still stops its JVM and removes its tmpdir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    sys.stdout.write(stdout)
    if proc.returncode != 0:
        fail(f"JVM exited with {proc.returncode}")
    with open(os.path.join(out, "report.json")) as f:
        report = json.load(f)
    host = dict(report["host"], git_commit=git_commit(), source_sha1=digest)
    print("perfbench: host " + json.dumps(host, sort_keys=True))
    got = report["metrics"]
    metrics = {}
    for m in wanted:
        g = got.get(m["name"], {})
        v = g.get("value")
        if v is None:
            fail(f"metric {m['name']} was not measured")
        if g["unit"] != m["unit"]:
            fail(f"metric {m['name']} measured in {g['unit']}, not {m['unit']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = int(report["failed"])
    print(json.dumps({"correct": failed == 0,
                      "attempted": int(report["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
