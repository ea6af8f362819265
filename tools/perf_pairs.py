#!/usr/bin/env python3
"""Run same-session alternating benchmark pairs: a git rev against the
working tree.

Usage: python3 tools/perf_pairs.py --rev REV [--workload W ...]
           --seeds FIRST-LAST [--triplet] [--work DIR]

Run from the repository root. The script makes fresh copies under
--work (default: a new temporary directory): A is `git archive REV`, B
is the working tree (tracked and untracked files that git does not
ignore), and with --triplet A2 is a second `git archive REV`, so two
copies of identical code show the copy-to-copy spread. For each seed it
runs `python3 perfbench/run.py --workload W --seed S --seconds N
--trace 0` once in every copy, with N the run_seconds of
BENCHMARK.json, alternating which copy runs first (A, B then B, A;
triplets rotate A, A2, B), and reads the host's steal share from
/proc/stat around each run.

The workloads are those of BENCHMARK.json, all of them unless
--workload names some. For each workload and each end-to-end metric it
prints the median of every copy, the pairs in which B was lower than A,
A's IQR/median and the metric's bound, then one line per run with its
steal and fail_frac. Every run record goes to DIR/runs.json. It only
reads BENCHMARK.json and changes nothing under perfbench/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpu_times():
    """(steal, total) jiffies of the host, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def archive(rev, dst):
    os.makedirs(dst)
    tar = subprocess.run(["git", "archive", rev], cwd=ROOT, check=True,
                         capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dst], input=tar, check=True)


def working_tree(dst):
    os.makedirs(dst)
    files = subprocess.run(
        ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        cwd=ROOT, check=True, capture_output=True).stdout
    files = b"\0".join(f for f in files.split(b"\0")
                       if f and os.path.exists(os.path.join(ROOT, f.decode())))
    tar = subprocess.run(["tar", "-c", "--null", "-T", "-"], cwd=ROOT,
                         input=files, check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dst], input=tar, check=True)


def run(copy, workload, seed, seconds):
    s0, t0 = cpu_times()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        workload, "--seed", str(seed), "--seconds",
                        str(seconds), "--trace", "0"],
                       cwd=copy, capture_output=True, text=True)
    s1, t1 = cpu_times()
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    if result is None:
        print(f"  run failed in {copy} (exit {p.returncode}): "
              f"{p.stderr.strip()[-300:]}", file=sys.stderr)
    return {"steal_pct": 100.0 * (s1 - s0) / max(t1 - t0, 1),
            "result": result}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    ap = argparse.ArgumentParser()
    ap.add_argument("--rev", required=True)
    ap.add_argument("--workload", action="append", choices=workloads)
    ap.add_argument("--seeds", required=True, help="FIRST-LAST, inclusive")
    ap.add_argument("--triplet", action="store_true")
    ap.add_argument("--work")
    a = ap.parse_args()
    a.workload = a.workload or workloads
    first, last = (int(x) for x in a.seeds.split("-"))

    work = a.work or tempfile.mkdtemp(prefix="perf_pairs_")
    copies = {"A": os.path.join(work, "A"), "B": os.path.join(work, "B")}
    archive(a.rev, copies["A"])
    working_tree(copies["B"])
    if a.triplet:
        copies["A2"] = os.path.join(work, "A2")
        archive(a.rev, copies["A2"])
    names = ["A", "A2", "B"] if a.triplet else ["A", "B"]

    runs = []
    for w in a.workload:
        for i, seed in enumerate(range(first, last + 1)):
            k = i % len(names)
            order = (names[k:] + names[:k]) if a.triplet else (
                names if i % 2 == 0 else names[::-1])
            for name in order:
                r = run(copies[name], w, seed, bench["run_seconds"])
                r.update(workload=w, seed=seed, copy=name)
                runs.append(r)
                res = r["result"] or {}
                print(f"{w} seed {seed} {name}: steal {r['steal_pct']:.1f}% "
                      f"failed {res.get('failed')}/{res.get('attempted')} "
                      + " ".join(f"{m}={v['value']:.2f}" for m, v in
                                 res.get("metrics", {}).items()), flush=True)
    with open(os.path.join(work, "runs.json"), "w") as f:
        json.dump(runs, f, indent=1)

    for w in a.workload:
        def value(name, seed, metric):
            for r in runs:
                if (r["workload"], r["copy"], r["seed"]) == (w, name, seed) \
                        and r["result"]:
                    return r["result"]["metrics"][metric]["value"]
            return None
        seeds = range(first, last + 1)
        print(f"\n{w}: {len(seeds)} {'triplets' if a.triplet else 'pairs'}, "
              f"medians " + " / ".join(names))
        for m in metrics:
            vals = {n: [v for v in (value(n, s, m["name"]) for s in seeds)
                        if v is not None] for n in names}
            if any(not v for v in vals.values()):
                print(f"  {m['name']}: missing runs")
                continue
            med = {n: statistics.median(v) for n, v in vals.items()}
            pairs = [(value("A", s, m["name"]), value("B", s, m["name"]))
                     for s in seeds]
            pairs = [(x, y) for x, y in pairs if x is not None and y is not None]
            lower = sum(y < x for x, y in pairs)
            q1, q3 = quartiles(vals["A"]) if len(vals["A"]) > 1 else (0, 0)
            print(f"  {m['name']}: " + " / ".join(f"{med[n]:.2f}" for n in names)
                  + f" ({100 * (med['B'] / med['A'] - 1):+.1f}%), B lower in "
                  f"{lower}/{len(pairs)}, A IQR/median "
                  f"{(q3 - q1) / med['A']:.3f}, bound {m['bound']}")
        fails = [r for r in runs if r["workload"] == w and
                 (not r["result"] or r["result"]["failed"])]
        print(f"  fail_frac > 0 or failed runs: {len(fails)}")
    print(f"\nruns: {os.path.join(work, 'runs.json')}")


if __name__ == "__main__":
    main()
