#!/usr/bin/env python3
"""Compare the deterministic per-layer counts of two traced runs.

    python3 perf/diff.py OLD NEW [--fail-on-change]

OLD and NEW are artifacts written by `perf/run.py --trace 1`
(.bench_build/artifacts/<workload>-seed<n>-trace1.json) or directories of
them; directories are paired by workload and seed. For each pair it lists
every count that moved: jobs, stages, tasks, shuffle/input/output bytes,
files and rows. Times are left out: they move with host load, counts of
work done do not, so a change too small to show in wall time can still be
judged by the work it added or removed.
"""
import argparse
import json
import os
import sys

# Per-layer metrics that are counts of work (repeatable for a seed). Peak
# storage and spill depend on executor memory timing and are left out.
COUNT_UNITS = {"count", "bytes"}
NOT_DETERMINISTIC = ("storage_peak_bytes", "spill_bytes")


def load(path):
    with open(path) as fh:
        art = json.load(fh)
    if not art.get("trace"):
        raise SystemExit(f"{path}: not a traced (--trace 1) artifact")
    return art


def artifacts(path):
    if os.path.isdir(path):
        out = {}
        for name in sorted(os.listdir(path)):
            if name.endswith("-trace1.json"):
                art = load(os.path.join(path, name))
                out[(art["workload"], art["seed"])] = art
        return out
    art = load(path)
    return {(art["workload"], art["seed"]): art}


def counts(art):
    return {name: m["value"] for name, m in art["result"]["metrics"].items()
            if m["unit"] in COUNT_UNITS
            and not any(name.endswith(s) for s in NOT_DETERMINISTIC)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--fail-on-change", action="store_true",
                    help="exit 1 when any count moved")
    args = ap.parse_args()
    old, new = artifacts(args.old), artifacts(args.new)
    moved_any = False
    for key in sorted(set(old) | set(new)):
        workload, seed = key
        if key not in old or key not in new:
            print(f"{workload} seed {seed}: only in "
                  f"{'old' if key in old else 'new'}")
            continue
        a, b = counts(old[key]), counts(new[key])
        moved = [(n, a.get(n), b.get(n)) for n in sorted(set(a) | set(b))
                 if a.get(n) != b.get(n)]
        print(f"{workload} seed {seed}: {len(moved)} of {len(a)} counts moved")
        for n, x, y in moved:
            if x is None or y is None:
                print(f"  {n:45s} {x!s:>14} -> {y!s:<14}")
                continue
            pct = f"{100.0 * (y - x) / x:+.1f}%" if x else "new"
            print(f"  {n:45s} {x:>14.0f} -> {y:<14.0f} {pct}")
        moved_any = moved_any or bool(moved)
    return 1 if (moved_any and args.fail_on_change) else 0


if __name__ == "__main__":
    sys.exit(main())
