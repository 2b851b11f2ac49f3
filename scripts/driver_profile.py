#!/usr/bin/env python3
"""Where the driver thread spends a workload's timed searches, from a JFR profile.

    python3 scripts/driver_profile.py --workload search_interactive --seed <n>
        [--seconds 12] [--period-ms 1] [--keep <dir>]

Runs `graftbench/run.py` once with a flight recording of every JVM it
starts (JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=..., Java method
samples every --period-ms, stacks up to 512 frames deep) written to a
scratch directory (a temporary one, removed at exit, unless --keep
names one), then reads the recordings with `jfr print --events
jdk.ExecutionSample`. It counts the samples of the driver thread
("main") taken inside the workload's timed calls (a stack through
`graftbench.Bench.search(` under `searchInteractive` for
search_interactive, through `graftbench.Bench.timedJoin(` for
query_join) and prints them by bucket. A sample goes to the first
bucket, in this order, with a matching frame anywhere in its stack:

    doCodeGen          WholeStageCodegenExec.doCodeGen (stage source generation)
    assertAnalyzed     QueryExecution.assertAnalyzed (a frame's analysis)
    resolveAndBind     ExpressionEncoder.resolveAndBind (the row encoder)
    ClosureCleaner     ClosureCleaner.clean
    optimizer/planner  QueryExecution's optimizedPlan, sparkPlan or executedPlan,
                       outside graft's own scan-plan bind (SearchIndex.scanPlan)
    other              everything else

Nothing under graftbench/ is changed; the run's own files go where
run.py puts them. The exit code is run.py's when it fails, else 0.
"""
import argparse
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BUCKETS = [
    ("doCodeGen", [r"WholeStageCodegenExec\.doCodeGen\("]),
    ("assertAnalyzed", [r"QueryExecution\.assertAnalyzed\("]),
    ("resolveAndBind", [r"ExpressionEncoder\.resolveAndBind\("]),
    ("ClosureCleaner", [r"ClosureCleaner\$?\.clean\("]),
    ("optimizer/planner", [r"QueryExecution\.(optimizedPlan|sparkPlan|executedPlan)\("]),
]
BIND = re.compile(r"graft\.search\.SearchIndex\.scanPlan\(")
PHASES = {
    "search_interactive": [r"graftbench\.Bench\.searchInteractive\(", r"graftbench\.Bench\.search\("],
    "query_join": [r"graftbench\.Bench\.timedJoin\("],
}


def settings(period_ms, dest):
    """profile.jfc of this JDK with the Java method sample period set."""
    java = os.path.realpath(shutil.which("java"))
    src = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "jfr", "profile.jfc")
    with open(src) as fh:
        jfc = fh.read()
    block = re.compile(r'(<event name="jdk\.ExecutionSample">.*?<setting name="period"[^>]*>)[^<]*(<)',
                       re.S)
    jfc, n = block.subn(rf"\g<1>{period_ms} ms\g<2>", jfc)
    if n != 1:
        sys.exit("driver_profile: no jdk.ExecutionSample period in " + src)
    path = os.path.join(dest, "sampling.jfc")
    with open(path, "w") as fh:
        fh.write(jfc)
    return path


def samples(recording):
    """(thread name, [frames, top first]) of every execution sample."""
    out = subprocess.run(["jfr", "print", "--stack-depth", "512", "--events", "jdk.ExecutionSample",
                          recording], stdout=subprocess.PIPE, text=True, check=True).stdout
    thread, frames, in_stack = None, [], False
    for line in out.splitlines():
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread"):
            m = re.search(r'"([^"]*)"', s)
            thread = m.group(1) if m else None
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(s)
        elif s == "}" and thread is not None:
            yield thread, frames
            thread, frames = None, []


def bucket(frames):
    stack = "\n".join(frames)
    for name, patterns in BUCKETS:
        if any(re.search(p, stack) for p in patterns):
            if name == "optimizer/planner" and BIND.search(stack):
                continue
            return name
    return "other"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PHASES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--period-ms", type=int, default=1)
    ap.add_argument("--keep", help="directory for the recordings (kept)")
    a = ap.parse_args()
    scratch = a.keep or tempfile.mkdtemp(prefix="driver_profile_")
    os.makedirs(scratch, exist_ok=True)
    try:
        rec = os.path.join(scratch, "recordings")
        os.makedirs(rec, exist_ok=True)
        env = dict(os.environ)
        env["JAVA_TOOL_OPTIONS"] = (
            f"-XX:StartFlightRecording=filename={rec},settings={settings(a.period_ms, scratch)} "
            "-XX:FlightRecorderOptions:stackdepth=512")
        cmd = [sys.executable, os.path.join(ROOT, "graftbench", "run.py"), "--workload", a.workload,
               "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                           text=True)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        if p.returncode != 0:
            print("\n".join(lines[-3:]))
            sys.exit(p.returncode)
        phase = [re.compile(r) for r in PHASES[a.workload]]
        counts, total, driver = {}, 0, 0
        for name in sorted(os.listdir(rec)):
            for thread, frames in samples(os.path.join(rec, name)):
                if thread != "main":
                    continue
                driver += 1
                stack = "\n".join(frames)
                if all(r.search(stack) for r in phase):
                    total += 1
                    b = bucket(frames)
                    counts[b] = counts.get(b, 0) + 1
        print(f"workload {a.workload}, seed {a.seed}: {total} timed-phase samples of the driver "
              f"thread ({driver} in all), {a.period_ms} ms period")
        for name in [b for b, _ in BUCKETS] + ["other"]:
            n = counts.get(name, 0)
            print(f"  {name:<18} {n:>7}  {100.0 * n / max(total, 1):5.1f}%")
        if lines:
            print("result: " + lines[-1][:300])
    finally:
        if not a.keep:
            shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
