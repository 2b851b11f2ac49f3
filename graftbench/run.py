#!/usr/bin/env python3
"""Workload benchmark for the graft engine.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --selftest

Builds the benchmark package (graftbench/build.sbt: the engine's main
sources plus the benchmark's code in graftbench/src) once per source state, then
runs one workload in one JVM. The last line of stdout is the result
object; the exit code is non-zero when any output check failed, when
the engine sources are missing, or when a SPARK_GRAFT_* variable is set.
Everything the run writes stays under the checkout: build output in
graftbench/target, inputs in .graftbench/work-<pid> (removed at exit),
span traces in .graftbench/traces.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "graftbench.stamp")
CLASSPATH = os.path.join(TARGET, "graftbench.classpath")
WORKLOADS = ("search_interactive", "query_join")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(src_digest):
    """Compiles the package unless the stamp says these sources are built."""
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == src_digest:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    print("graftbench: building (sbt compile)", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out", 4)
    lines = [l.strip() for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(out.stdout)
        die(f"build failed (sbt exit {out.returncode})", 4)
    cp = lines[-1]
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp + "\n")
    with open(STAMP, "w") as fh:
        fh.write(src_digest + "\n")
    return cp


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, args, tmp=None):
    cmd = ["java", "-Xms3g", "-Xmx3g"]
    if tmp:
        cmd.append(f"-Djava.io.tmpdir={tmp}")
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True, stdin=subprocess.DEVNULL)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {RUN_TIMEOUT_S}s", 5)
    finally:
        # on a timeout, an interrupt or SIGTERM: stop the JVM and wait for it
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    graft_env = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if graft_env:
        die(f"refusing to run with {', '.join(graft_env)} set: the benchmark measures library defaults")
    if not os.path.isdir(ENGINE_SRC):
        die(f"engine sources not found at {ENGINE_SRC}")
    if not os.path.isfile(BENCHMARK_JSON):
        die(f"metric table not found at {BENCHMARK_JSON}")
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None or a.seconds < 1):
        die("--workload, --seed and a positive --seconds are required")
    src_digest = digest()
    cp = build(src_digest)
    if a.selftest:
        sys.exit(run_jvm(cp, ["--selftest"]))
    work = os.path.join(ROOT, ".graftbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--work", work, "--benchmark", BENCHMARK_JSON,
                            "--commit", commit(), "--source-digest", src_digest],
                       tmp=os.path.join(work, "tmp"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
