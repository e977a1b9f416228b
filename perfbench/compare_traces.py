#!/usr/bin/env python3
"""Compare the deterministic counters of two traced runs.

    python3 perfbench/compare_traces.py .bench_build/records/A.json .bench_build/records/B.json

At a fixed seed, jobs, tasks, exchanges, shuffle bytes written and rows out
of every span must repeat exactly from one traced run to the next; a change
that moves one of them changed the work the program does. Each round of a
run is compared with the same round of the other run. Exits 1 on any
difference.
"""
import json
import sys
from collections import defaultdict

DETERMINISTIC = ["jobs", "tasks", "exchanges", "shuffle_write_bytes", "rows_out"]


def counters(path):
    rec = json.load(open(path))
    if not rec["trace"]:
        sys.exit(f"{path} is not a traced run")
    out = defaultdict(lambda: defaultdict(float))
    for s in rec["spans"]:
        for c in DETERMINISTIC:
            out[(s["run_id"], s["name"])][c] += s["counters"][c]
    return rec, out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    (ra, a), (rb, b) = counters(sys.argv[1]), counters(sys.argv[2])
    if (ra["workload"], ra["seed"]) != (rb["workload"], rb["seed"]):
        sys.exit("the runs differ in workload or seed")
    rounds = {r for r, _ in a} & {r for r, _ in b}
    diffs = 0
    for key in sorted(k for k in set(a) | set(b) if k[0] in rounds):
        for c in DETERMINISTIC:
            x, y = a[key][c], b[key][c]
            if x != y:
                diffs += 1
                print(f"round {key[0]} {key[1]}.{c}: {x:.0f} vs {y:.0f}")
    spans = len({n for _, n in a})
    print(f"{ra['workload']} seed {ra['seed']}: {len(rounds)} rounds, {spans} span names, "
          f"{diffs} differing counters")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
