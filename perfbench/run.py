#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run. The lines before it print the same
numbers, and the workload's own named metrics, as text. A full record
(metrics, run context, set-up steps, spans) is written under
``.perfbench/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
WORKLOAD_NAMES = ("lake_ingest", "lake_replay", "query_tail", "query_headline")


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="fixture directory for the query workloads")
    ap.add_argument(
        "--order",
        choices=("seeded", "forward", "reversed"),
        default="seeded",
        help="query order within a pass (default: shuffled by --seed)",
    )
    ap.add_argument(
        "--write-expected",
        action="store_true",
        help="query workloads: record each query's row count and columns as the expected output",
    )
    args = ap.parse_args(argv)
    if args.write_expected and not args.workload.startswith("query_"):
        ap.error("--write-expected applies to the query workloads only")
    return args


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "serverless_datalake_spark", "sources", "ingest.py"))


def configure_env(work_dir: str) -> None:
    """Spark at local[nproc] unless the caller set it, and every scratch
    file (Spark local dirs, Python and JVM temp files) under ``work_dir``."""
    from perfbench.context import nproc

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def stop_spark() -> None:
    """Stop the session, end the JVM (it exits when its stdin closes,
    taking the Python workers with it) and wait until it has."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def tracing_overhead(traced: dict, untraced: dict) -> dict[str, float]:
    """Mean timed-op latency and mean loop step (op plus checks and
    harvest), traced minus untraced."""

    def per_op(r: dict) -> tuple[float, float]:
        lat = [x for xs in r["latencies"].values() for x in xs]
        return sum(lat) / max(1, len(lat)), r["detail"]["run_wall_s"] / max(1, r["detail"]["ops"])

    (a_op, a_loop), (b_op, b_loop) = per_op(traced), per_op(untraced)
    return {"op_s": a_op - b_op, "loop_s": a_loop - b_loop}


def fmt(value) -> str:
    return "n/a" if value is None else f"{value:.6g}"


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not engine_present():
        print(f"perfbench: the engine package is not under {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work_dir = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    configure_env(work_dir)

    from perfbench import context, workloads

    wl = workloads.WORKLOADS[args.workload](
        work_dir,
        args.seed,
        bool(args.trace),
        sf_dir=args.sf_dir,
        order=args.order,
        write_expected=args.write_expected,
    )
    try:
        wl.execute(args.seconds)
        ctx = context.run_context(wl.spark, wl.probe_s())
        if args.trace:
            metrics = wl.layer_metrics()
        else:
            metrics = wl.metrics()
        named = wl.named_metrics()
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "context": ctx,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "attempted": wl.out.attempted,
            "failed": wl.out.failed,
            "failures": wl.out.failures,
            "latencies": wl.out.latencies,
            "setups": wl.setup_times,
            "probes": wl.probes,
            "detail": wl.detail,
        }
        if args.trace:
            record["self_coverage"] = wl.self_coverage()
            untraced = os.path.join(OUT, "results", f"{args.workload}-s{args.seed}-t0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)
                if base["context"]["nproc"] == ctx["nproc"]:
                    record["tracing_overhead"] = tracing_overhead(record, base)
        if args.write_expected:
            print(f"expected outputs written to {wl.write_expected()}", file=sys.stderr)
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        with open(os.path.join(OUT, "results", f"{tag}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        if args.trace:
            with open(os.path.join(OUT, "results", f"{tag}.spans.jsonl"), "w") as f:
                for sp in wl.tracer.spans:
                    f.write(json.dumps(sp.__dict__) + "\n")
    finally:
        stop_spark()
        shutil.rmtree(work_dir, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} nproc={ctx['nproc']} load1={ctx['loadavg_1m']:.2f} "
          f"probe_s={ctx['probe_s']:.4f}")
    for k, (v, u) in named.items():
        print(f"{k} = {fmt(v)} {u}")
    frac = wl.out.failed / max(1, wl.out.attempted)
    print(f"ops_failed_frac = {frac:.6g} ratio ({wl.out.failed}/{wl.out.attempted})")
    if args.trace:
        for kind, cov in record["self_coverage"].items():
            print(f"self-time {kind}: ops={cov['ops']} layers/wall={cov['layers_self_over_wall']:.3f} "
                  f"all/wall={cov['all_self_over_wall']:.3f}")
        if "tracing_overhead" in record:
            ov = record["tracing_overhead"]
            print(f"tracing overhead (traced - untraced, same seed): {ov['op_s']:+.4f} s per timed op, "
                  f"{ov['loop_s']:+.4f} s per loop step")
    finite = all(math.isfinite(v) for v, _ in metrics.values())
    line = {
        "correct": wl.out.failed == 0 and finite,
        "attempted": wl.out.attempted,
        "failed": wl.out.failed,
        "metrics": {k: {"value": v if math.isfinite(v) else 0.0, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
