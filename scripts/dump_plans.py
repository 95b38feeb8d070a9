#!/usr/bin/env python
"""Regenerate PLANS.md: a PlanReport summary per headline query at
$SPARK_GRAFT_SF_DIR (run after changing any query or session conf)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import bench  # noqa: E402
from serverless_datalake_spark.plans import plan_report  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", bench.DEFAULT_SF_DIR)
    spark, reg = bench.session("dump-plans")
    lines = [
        "# PLANS — physical-plan summaries for the headline queries",
        "",
        f"Generated by scripts/dump_plans.py against `{sf_dir}`.",
        "Join/exchange/codegen counts come from the AQE-final executed",
        "plan (each query is run once). See tests/test_plans.py for the",
        "properties that are enforced, not just reported.",
        "",
        "| query | joins (bcast/SMJ/SHJ/cart) | exchanges | codegen stages | partial agg | pushed filters |",
        "|---|---|---|---|---|---|",
    ]
    for name in bench.HEADLINE:
        df = reg[name].fn(spark, sf_dir)
        r = plan_report(df, finalize=True)
        pushed = "; ".join(r.pushed_filters)[:80] or "—"
        lines.append(
            f"| {name} | {r.broadcast_joins}/{r.sort_merge_joins}/"
            f"{r.shuffle_hash_joins}/{r.cartesian_products} | {r.exchanges} | "
            f"{r.codegen_stages} | {'y' if r.has_partial_agg else '—'} | {pushed} |"
        )
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(bench.HEADLINE)} queries)")


if __name__ == "__main__":
    main()
