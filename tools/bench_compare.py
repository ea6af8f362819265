#!/usr/bin/env python3
"""Compare two graft.Bench results (round-over-round deltas).

Usage: python3 tools/bench_compare.py OLD.json NEW.json [topN]

Each file may be a Bench JSON line (`{"metric": ..., "queries": {...}}`,
as in BENCH_FULL.json), a run record that wraps that line under `parsed`
(BENCH_r*.json), or a flat query -> seconds map (BENCH_BASELINE.json).
"""
import json
import sys


def load_queries(path: str) -> dict:
    """The query -> seconds map of any of the three file shapes."""
    d = json.load(open(path))
    if "parsed" in d:
        if not isinstance(d["parsed"], dict):
            sys.exit(f"{path}: the run record holds no parsed Bench line "
                     f"(rc={d.get('rc')}); its tail is truncated")
        d = d["parsed"]
    if "queries" in d:
        return d["queries"]
    if d and all(isinstance(v, (int, float)) for v in d.values()):
        return d
    sys.exit(f"{path}: no per-query times (a summary line without "
             f"'queries'?)")


def main() -> None:
    old = load_queries(sys.argv[1])
    new = load_queries(sys.argv[2])
    top = int(sys.argv[3]) if len(sys.argv) > 3 else 15
    keys = sorted(set(old) | set(new),
                  key=lambda k: -(new.get(k, 0) - old.get(k, 0)))
    print(f"{'query':34s} {'old':>8s} {'new':>8s} {'delta':>8s}")
    for k in keys[:top]:
        o, n = old.get(k), new.get(k)
        delta = (n - o) if o is not None and n is not None else float("nan")
        print(f"{k:34s} {o if o is not None else float('nan'):8.2f} "
              f"{n if n is not None else float('nan'):8.2f} {delta:+8.2f}")
    print(f"\ntotal: {sum(old.values()):.1f}s -> {sum(new.values()):.1f}s "
          f"({len(old)} -> {len(new)} queries)")


if __name__ == "__main__":
    main()
