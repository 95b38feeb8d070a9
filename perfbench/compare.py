#!/usr/bin/env python3
"""Compare result records written by ``run.py`` (``.perfbench/results/``).

    python3 perfbench/compare.py BASE.json [BASE.json ...] [--against NEW.json ...]

For each metric: the median of each side, its quartile spread as a
share of the median, and the change of the medians. Records taken at
different core counts are never compared: the command refuses them.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    med = statistics.median(values)
    if len(values) < 2 or not med:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def summary(records: list[dict]) -> dict[str, tuple[float, float, str]]:
    by: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for r in records:
        for k, m in r["metrics"].items():
            by.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
    return {k: (statistics.median(v), spread(v), units[k]) for k, v in by.items()}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base", nargs="+")
    ap.add_argument("--against", nargs="*", default=[])
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.against)
    cores = {r["context"]["nproc"] for r in base + new}
    if len(cores) > 1:
        print(f"refusing to compare runs taken at different core counts: {sorted(cores)}", file=sys.stderr)
        return 2
    kinds = {(r["workload"], r["trace"]) for r in base + new}
    if len(kinds) > 1:
        print(f"refusing to compare different workloads or trace modes: {sorted(kinds)}", file=sys.stderr)
        return 2
    b = summary(base)
    n = summary(new) if new else {}
    print(f"# {len(base)} base run(s), {len(new)} new run(s), nproc={cores.pop()}")
    for k, (med, sp, unit) in b.items():
        line = f"{k:40s} {med:12.6g} {unit:9s} spread {sp:6.3f}"
        if k in n:
            nmed, nsp, _ = n[k]
            change = (nmed - med) / med if med else 0.0
            line += f"   new {nmed:12.6g} spread {nsp:6.3f} change {change:+.3f}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
