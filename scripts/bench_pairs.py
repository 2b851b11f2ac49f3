#!/usr/bin/env python3
"""Alternating parent/change pairs of graftbench runs, summarised.

    python3 scripts/bench_pairs.py --base <rev> [--workload search_interactive]
        [--seeds 31201-31210] [--seconds 12] [--trace 0|1] [--json <file>]

The parent is `git archive <rev>` of this checkout, unpacked into a
temporary directory outside it (removed at exit); the change is this
checkout's working tree, uncommitted edits included. Every seed runs
`graftbench/run.py` once on each side, one run at a time, and the side
that goes first alternates by seed, so host drift does not favour one
side. Each tree builds its own
benchmark package on its first run, before the run's timed phase.

For every metric a run reports, the summary prints each side's median
and quartiles, the change of the medians in percent, the pairs the
change won (by the metric's "better" direction in BENCHMARK.json) and
whether the medians differ by more than the parent's interquartile
distance ("resolved"). Failed operations and non-zero exits are counted
per side. --json writes every run's result line and the summary.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 1200  # graftbench's own build (850 s) and run (170 s) limits, with slack


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi) + 1) if hi else [int(lo)])
    return out


def export(rev, dest):
    """Unpacks `git archive rev` of this checkout into dest."""
    archive = subprocess.Popen(["git", "archive", rev], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        sys.exit(f"bench_pairs: git archive {rev} failed")


def run(tree, workload, seed, seconds, trace):
    """One graftbench run in `tree`: (exit code, result object or None)."""
    cmd = [sys.executable, os.path.join(tree, "graftbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    try:
        p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                           text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return None, None
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result


def directions(tree):
    with open(os.path.join(tree, "BENCHMARK.json")) as fh:
        table = json.load(fh)
    return {m["name"]: m["better"] for m in table.get("end_to_end", []) + table.get("per_layer", [])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarise(pairs, better):
    """Per metric: both sides' quartiles, % change of medians, wins n/N, resolved."""
    names = []
    for b, c in pairs:
        for r in (b, c):
            for n in (r or {}).get("metrics", {}):
                if n not in names:
                    names.append(n)
    rows = []
    for n in names:
        both = [(b["metrics"][n]["value"], c["metrics"][n]["value"]) for b, c in pairs
                if b and c and n in b.get("metrics", {}) and n in c.get("metrics", {})]
        if not both:
            continue
        base, chg = [x for x, _ in both], [y for _, y in both]
        bq, cq = quartiles(base), quartiles(chg)
        lower = better.get(n, "lower") == "lower"
        wins = sum(1 for x, y in both if (y < x if lower else y > x))
        pct = (cq[1] - bq[1]) / bq[1] * 100.0 if bq[1] else float("nan")
        rows.append({"metric": n, "better": "lower" if lower else "higher", "pairs": len(both),
                     "base": bq, "change": cq, "pct": pct, "wins": wins,
                     "resolved": abs(cq[1] - bq[1]) > bq[2] - bq[0]})
    return rows


def failures(results):
    done = [r for r in results if r]
    attempted = sum(r.get("attempted", 0) for r in done)
    failed = sum(r.get("failed", 0) for r in done)
    return attempted, failed, len(results) - len(done)


def fmt(q):
    return f"{q[1]:.4g} [{q[0]:.4g}-{q[2]:.4g}]"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the parent side")
    ap.add_argument("--workload", action="append",
                    help="graftbench workload (repeatable; default search_interactive)")
    ap.add_argument("--seeds", default="31201-31210", help="e.g. 31201-31210 or 5,9,12")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="write every result line and the summary here")
    a = ap.parse_args()
    workloads = a.workload or ["search_interactive"]
    seeds = seeds_of(a.seeds)
    better = directions(ROOT)
    base = tempfile.mkdtemp(prefix="bench_pairs_base_")
    report = {"base": a.base, "change": ROOT, "seeds": seeds, "seconds": a.seconds,
              "trace": a.trace, "workloads": {}}
    try:
        export(a.base, base)
        for w in workloads:
            pairs, codes = [], []
            for i, seed in enumerate(seeds):
                order = [("base", base), ("change", ROOT)]
                if i % 2:
                    order.reverse()
                got = {}
                for side, tree in order:
                    code, result = run(tree, w, seed, a.seconds, a.trace)
                    got[side] = result
                    codes.append((side, seed, code))
                    lat = (result or {}).get("metrics", {}).get("latency_ms", {}).get("value")
                    print(f"[{w}] seed {seed} {side}: exit {code}, latency_ms {lat}",
                          file=sys.stderr, flush=True)
                pairs.append((got["base"], got["change"]))
            rows = summarise(pairs, better)
            print(f"\n{w}: base {a.base} vs {ROOT}, {len(seeds)} pairs, "
                  f"seeds {seeds[0]}..{seeds[-1]}, --seconds {a.seconds} --trace {a.trace}")
            print(f"{'metric':<36} {'base median [q1-q3]':<28} {'change median [q1-q3]':<28} "
                  f"{'change':>8} {'wins':>6}  resolved")
            for r in rows:
                print(f"{r['metric']:<36} {fmt(r['base']):<28} {fmt(r['change']):<28} "
                      f"{r['pct']:>+7.1f}% {r['wins']:>3}/{r['pairs']:<2}  "
                      f"{'yes' if r['resolved'] else 'no'}")
            for side, results in (("base", [b for b, _ in pairs]), ("change", [c for _, c in pairs])):
                attempted, failed, missing = failures(results)
                bad = sum(1 for s, _, c in codes if s == side and c != 0)
                print(f"{side}: {failed}/{attempted} operations failed, {bad} non-zero exits, "
                      f"{missing} runs without a result line")
            report["workloads"][w] = {"pairs": [{"seed": s, "base": b, "change": c}
                                                for s, (b, c) in zip(seeds, pairs)],
                                      "exits": codes, "summary": rows}
    finally:
        shutil.rmtree(base, ignore_errors=True)
    if a.json:
        with open(a.json, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
