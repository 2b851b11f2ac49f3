#!/usr/bin/env python3
"""RAW-bench ratchet (r15 verdict #4): floors only go down, so a
floors-only check is structurally blind to raw regressions — r15's
2.39x total shipped with zero alarms. This check compares the RAW
readings of a Bench dump against its own min-merged floors and fails
loudly when the engine is measurably slower than it has ever been:

  - any entry's raw best-of-N > ENTRY_MARGIN x its floor
    (floors under MIN_FLOOR s are skipped: sub-300ms entries jitter
    multiples on a shared host without meaning anything), or
  - the raw total > TOTAL_MARGIN x floor_total.

Margins are wider than scale_check.py's 1.5x because raw readings
include co-tenant bursts the floor machinery exists to absorb — but a
2x entry or a 1.3x TOTAL is not a burst, it is a regression (r15's
auto-pruning default was 2.39x total and 5-27x on its entry family).

  - any entry's first-attempt (cold) reading > COLD_ENTRY_MARGIN x
    its cold floor, or the cold total > COLD_TOTAL_MARGIN x the cold
    floor total, both totals summed over the entries that have both
    a cold reading and a cold floor.

Usage:
  python3 scripts/bench_check.py [BENCH_FULL.json] [--entry-margin 2.0]
                                 [--total-margin 1.3]

Default input is /root/repo/BENCH_FULL.json (graft.Bench's full dump
for sf0.1 on 32 cores; any other (sf, cores) pair dumps to
BENCH_FULL_<sf>_c<cores>.json, and Bench logs "[bench] full dump:
<path>" so scripts/seal.sh passes the file the run just wrote). Also accepts a driver BENCH_r{N}.json (reads the "parsed"
object) or a raw one-line bench receipt. Exit 1 on any failure.
"""
import json, os, sys

ENTRY_MARGIN = 2.0
TOTAL_MARGIN = 1.3
# Cold (first-attempt) readings get wider margins than warm ones: a
# warm reading is a best-of-N min that absorbs a co-tenant burst,
# while a cold reading is a single sample that also carries one-off
# section-cache builds.
COLD_ENTRY_MARGIN = 2.5
COLD_TOTAL_MARGIN = 1.5
MIN_FLOOR = 0.3

argv = sys.argv[1:]
def opt(name, default):
    if name in argv:
        i = argv.index(name)
        if i + 1 >= len(argv):
            print(f"FATAL: {name} needs a value")
            sys.exit(2)
        v = float(argv[i + 1])
        del argv[i:i + 2]
        return v
    return default

ENTRY_MARGIN = opt("--entry-margin", ENTRY_MARGIN)
TOTAL_MARGIN = opt("--total-margin", TOTAL_MARGIN)
path = argv[0] if argv else "/root/repo/BENCH_FULL.json"

with open(path) as f:
    doc = json.loads(f.read().strip().splitlines()[-1])
if "parsed" in doc:  # driver BENCH_r{N}.json wrapper
    doc = doc["parsed"]

queries = doc.get("queries", {})
floors = doc.get("floor_queries") or doc.get("floors") or {}
floor_total = doc.get("floor_total")
if not queries:
    print(f"FATAL: no queries in {path}")
    sys.exit(1)
if not floors:
    print(f"FATAL: no floors in {path} — raw ratchet needs floor_queries")
    sys.exit(1)

fails = 0
for name, sec in sorted(queries.items()):
    fl = floors.get(name)
    if fl is None or fl <= MIN_FLOOR or sec < 0:
        continue
    ratio = sec / fl
    if ratio > ENTRY_MARGIN:
        print(f"RAW-REGRESS {name}: {sec:.2f}s vs floor {fl:.2f}s ({ratio:.2f}x)")
        fails += 1

total = sum(v for v in queries.values() if v >= 0)
if floor_total and floor_total > 0:
    tratio = total / floor_total
    line = f"total {total:.1f}s vs floor_total {floor_total:.1f}s ({tratio:.2f}x)"
    if tratio > TOTAL_MARGIN:
        print(f"RAW-REGRESS {line}")
        fails += 1
    else:
        print(f"OK {line}")

# COLD ratchet (r17, VERDICT r16 #2): the warm best-of-N min hides a
# cold setup regression (memoized query-join setups skip ~15 jobs on
# run 2); first-attempt readings get the same treatment against their
# own min-merged cold floors, with the wider cold margins. Both cold
# totals sum the SAME entries — those with a cold reading and a cold
# floor — so an entry missing from either side cannot skew the ratio.
first = doc.get("first_queries") or {}
cold_floors = doc.get("cold_floor_queries") or {}
if first and cold_floors:
    for name, sec in sorted(first.items()):
        fl = cold_floors.get(name)
        if fl is None or fl <= MIN_FLOOR or sec < 0:
            continue
        if sec / fl > COLD_ENTRY_MARGIN:
            print(f"COLD-REGRESS {name}: first {sec:.2f}s vs cold floor "
                  f"{fl:.2f}s ({sec/fl:.2f}x)")
            fails += 1
    common = [k for k in first if k in cold_floors
              and first[k] >= 0 and cold_floors[k] > 0]
    ftotal = sum(first[k] for k in common)
    cold_total = sum(cold_floors[k] for k in common)
    if cold_total > 0:
        cratio = ftotal / cold_total
        cline = (f"first_total {ftotal:.1f}s vs cold_floor_total "
                 f"{cold_total:.1f}s over {len(common)} entries ({cratio:.2f}x)")
        if cratio > COLD_TOTAL_MARGIN:
            print(f"COLD-REGRESS {cline}")
            fails += 1
        else:
            print(f"OK {cline}")

print(f"\n{len(queries)} entries, {fails} raw regressions "
      f"(entry>{ENTRY_MARGIN}x floor>{MIN_FLOOR}s, total>{TOTAL_MARGIN}x)")
sys.exit(1 if fails else 0)
