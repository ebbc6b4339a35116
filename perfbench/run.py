#!/usr/bin/env python3
"""Run one perfbench workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 5 --trace 0

The first run in a checkout builds the repository and the benchmark with
sbt (perfbench/build.sbt); later runs reuse the build until a source file
changes. The benchmark JVM is launched directly, so sbt's own start-up is
never timed. Everything a run writes lives under .perfbench/ in the
checkout, and each run's scratch directory is removed when it ends.
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
WORK = os.path.join(ROOT, ".perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
WORKLOADS = ("etl_nightly", "store_daily")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit (mirrors the repository build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build depends on, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def digest():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("the repository sources (build.sbt, src/main/scala) are not here; nothing to build")
    want = digest()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false", "-J-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    try:
        r = subprocess.run(["sbt", "--batch"] + opts + ["writeClasspath"], cwd=HERE, env=env,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out", 3)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        die(f"build failed (sbt exit {r.returncode})", 3)
    with open(STAMP, "w") as fh:
        fh.write(want)


def heap_flags():
    """A fixed heap of a third of physical memory (2 to 6 GiB) with a fixed
    young generation, so the JVM's resident size follows the live data rather
    than heap-sizing decisions that vary from run to run.
    """
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        mb = 1024 * max(2, min(6, kb // (3 * 1024 * 1024)))
    except (OSError, StopIteration):
        mb = 2048
    return [f"-Xms{mb}m", f"-Xmx{mb}m", f"-Xmn{mb // 4}m"]


def catalogue(trace):
    """name -> unit of the metrics BENCHMARK.json names for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def with_units(values, trace):
    """The JVM's bare metric values, keyed and ordered as BENCHMARK.json
    lists them, each with its unit. A per-layer metric the workload never
    touches reads 0 (that workload is the layer's bypass); an end-to-end
    metric must be measured on every workload.
    """
    units = catalogue(trace)
    unknown = set(values) - set(units)
    missing = set(units) - set(values)
    if unknown or (missing and not trace):
        die(f"result does not match BENCHMARK.json: unknown {sorted(unknown)}, missing {sorted(missing)}", 6)
    return {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = ["java"] + heap_flags() + [f"-Djava.io.tmpdir={scratch}/tmp", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--scratch", scratch]
    proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, stderr=sys.stderr,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        die(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(scratch, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        die(f"benchmark JVM exited {proc.returncode}", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"malformed result line: {lines[-1][:200]}", 6)
    result["metrics"] = with_units(result["metrics"], a.trace)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
