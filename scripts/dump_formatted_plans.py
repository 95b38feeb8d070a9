#!/usr/bin/env python
"""Dump .explain("formatted") for the headline queries (and any extra
names given on argv) to plans/<tag>/<query>_<suffix>.txt — the
optimization round's before/after plan evidence.

Usage: python scripts/dump_formatted_plans.py <suffix> [name ...]
  suffix: 'before' or 'after'
  names : default = bench.HEADLINE
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import bench  # noqa: E402

TAG = os.environ.get("SPARK_GRAFT_PLAN_TAG", "r09")


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", bench.DEFAULT_SF_DIR)
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", TAG)
    os.makedirs(out_dir, exist_ok=True)
    spark, reg = bench.session(f"dump-plans-{suffix}")
    for name in names:
        df = reg[name].fn(spark, sf_dir)
        # capture the public explain() output instead of reaching into
        # private JVM internals (round-9 advisor finding): identical
        # text, stable across Spark versions
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        txt = buf.getvalue()
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name}_{suffix}.txt ({len(txt)} B)")


if __name__ == "__main__":
    main()
