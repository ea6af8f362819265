#!/usr/bin/env python3
"""Compare two graft.Bench results (round-over-round deltas).

Usage: python3 tools/bench_compare.py OLD.json NEW.json [topN]

Each file may be a Bench JSON line (`{"metric": ..., "queries": {...}}`,
as in BENCH_FULL.json), a run record that wraps that line under `parsed`
(BENCH_r*.json), or a flat query -> seconds map (BENCH_BASELINE.json).
Rows are wall seconds, the largest rise first. When both files carry
Bench's per-entry `cpu` map (JVM CPU seconds, BENCH_FULL.json since
Bench recorded it), a `cpu delta` column and a CPU total follow the wall
figures; otherwise they are left out.
"""
import json
import math
import sys


def load(path: str) -> tuple:
    """The query -> wall seconds map of any of the three file shapes,
    and the query -> CPU seconds map, or None where the file has none."""
    d = json.load(open(path))
    if "parsed" in d:
        if not isinstance(d["parsed"], dict):
            sys.exit(f"{path}: the run record holds no parsed Bench line "
                     f"(rc={d.get('rc')}); its tail is truncated")
        d = d["parsed"]
    if "queries" in d:
        return d["queries"], d.get("cpu")
    if d and all(isinstance(v, (int, float)) for v in d.values()):
        return d, None
    sys.exit(f"{path}: no per-query times (a summary line without "
             f"'queries'?)")


def delta(old: dict, new: dict, k: str) -> float:
    o, n = old.get(k), new.get(k)
    return n - o if o is not None and n is not None else math.nan


def main() -> None:
    old, old_cpu = load(sys.argv[1])
    new, new_cpu = load(sys.argv[2])
    top = int(sys.argv[3]) if len(sys.argv) > 3 else 15
    cpu = old_cpu is not None and new_cpu is not None
    keys = sorted(set(old) | set(new),
                  key=lambda k: -(new.get(k, 0) - old.get(k, 0)))
    print(f"{'query':34s} {'old':>8s} {'new':>8s} {'delta':>8s}"
          + (f" {'cpu delta':>9s}" if cpu else ""))
    for k in keys[:top]:
        o, n = old.get(k, math.nan), new.get(k, math.nan)
        print(f"{k:34s} {o:8.2f} {n:8.2f} {delta(old, new, k):+8.2f}"
              + (f" {delta(old_cpu, new_cpu, k):+9.2f}" if cpu else ""))
    print(f"\ntotal: {sum(old.values()):.1f}s -> {sum(new.values()):.1f}s "
          f"({len(old)} -> {len(new)} queries)")
    if cpu:
        print(f"cpu total: {sum(old_cpu.values()):.1f}s -> "
              f"{sum(new_cpu.values()):.1f}s")


if __name__ == "__main__":
    main()
