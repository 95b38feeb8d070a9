#!/usr/bin/env python
"""Min-of-3 noop-sink timing for individual registry queries — the
optimization round's per-change measurement tool (bench.py's protocol:
first run pays codegen, min is the steady-state plan cost).

Usage: python scripts/time_query.py name [name ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import bench  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", bench.DEFAULT_SF_DIR)
    spark, reg = bench.session("time-query")
    bench.warmup(spark, reg, sf_dir)
    if os.environ.get("SPARK_GRAFT_TIME_CALIBRATE") == "1":
        print(f"__calibration__: min={bench.calibration_run(spark):.3f}", flush=True)
    for name in sys.argv[1:]:
        spark.sparkContext.setJobDescription(name)
        samples = bench.samples(spark, reg, name, sf_dir)
        print(
            f"{name}: min={min(samples):.3f} samples="
            + ",".join(f"{s:.2f}" for s in samples),
            flush=True,
        )


if __name__ == "__main__":
    main()
