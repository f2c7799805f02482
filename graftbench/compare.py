#!/usr/bin/env python3
"""Compare two sets of benchmark results, metric by metric.

    python3 graftbench/compare.py <base.json ...> -- <new.json ...>

Each file is a record run.py writes to .bench_build/graftbench/results/.
Prints each metric's median per side and the change as a share of the
base median. Refuses (exit 2) to compare results taken at different core
counts or on different workloads.
"""
import json
import statistics
import sys


def load(paths):
    recs = [json.load(open(p)) for p in paths]
    return recs, {(r["context"]["workload"], r["context"]["cores"]) for r in recs}


def main():
    args = sys.argv[1:]
    if "--" not in args:
        raise SystemExit(__doc__)
    cut = args.index("--")
    base, base_keys = load(args[:cut])
    new, new_keys = load(args[cut + 1:])
    if len(base_keys | new_keys) != 1:
        print(f"refusing to compare: workload/cores differ: {sorted(base_keys | new_keys)}")
        sys.exit(2)
    section = "layers" if "layers" in base[0] else "metrics"
    for name, m in base[0][section].items():
        b = statistics.median(r[section][name]["value"] for r in base)
        n = statistics.median(r[section][name]["value"] for r in new)
        change = f"{(n - b) / b:+.3f}" if b else "n/a"
        print(f"{name:34s} {b:14.4f} {n:14.4f} {change:>8s} {m['unit']}")


if __name__ == "__main__":
    main()
