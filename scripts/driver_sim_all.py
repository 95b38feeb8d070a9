"""Driver simulation at an arbitrary sf_dir (default sf0.01, the
driver's correctness-gate scale): run registry queries through the
same compare() the tests use (row count + sorted column names +
normalized value multiset vs the DuckDB oracle) and print one line per
failure plus a JSON summary; exit 1 on any failure. With no selection
it runs the whole registry (pre-verifying DRIVER_WINDOW blocks against
the current fixtures before the driver ever sees them); with names it
is the per-change correctness gate for the queries a change touched.

Usage: python scripts/driver_sim_all.py [sf_dir] [start:stop | name ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.oracle_harness import compare, duckdb_conn  # noqa: E402

import bench  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark, reg = bench.session("driver-sim-all", shuffle_partitions=16)
    con = duckdb_conn(sf_dir)
    names = sys.argv[2:] or list(reg)
    if len(sys.argv) == 3 and ":" in sys.argv[2]:
        a, b = sys.argv[2].split(":")
        names = list(reg)[slice(int(a) if a else None, int(b) if b else None)]
    fails: dict[str, list[str]] = {}
    zero_rows: list[str] = []
    t0 = time.time()
    for i, name in enumerate(names):
        try:
            q = reg[name]
            df = q.fn(spark, sf_dir)
            if q.oracle is None:
                n = df.count()
                if n == 0:
                    zero_rows.append(name)
                continue
            problems = compare(df, con, q.oracle)
        except Exception as exc:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(exc).__name__}: {exc}"]
        if problems:
            fails[name] = problems
            print(f"FAIL {name}: {problems[0][:300]}", flush=True)
        if (i + 1) % 50 == 0:
            print(
                f"... {i + 1}/{len(names)} done, {len(fails)} fails, "
                f"{time.time() - t0:.0f}s",
                flush=True,
            )
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n": len(names),
                "n_fail": len(fails),
                "fails": {k: v[0][:200] for k, v in fails.items()},
                "zero_row_unoracled": zero_rows,
                "sec": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
