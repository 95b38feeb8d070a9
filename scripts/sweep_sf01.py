#!/usr/bin/env python
"""One-off timed sweep of the ENTIRE registry at sf0.1 (the perf twin
of the sf0.01 correctness sweep): catches data-proportional surprises
in the non-headline queries that bench.py's 49-query set never times.

Runs in CHUNKS of 40 queries, each in a fresh subprocess/JVM: a single
long-lived session accumulates generated projection classes until the
JIT code cache fills and HOF expressions drop to interpreted eval
(observed: a 6 s query taking 25+ min as query #76 of one session).
The per-chunk JVM restart costs ~10 s and keeps every measurement at
codegen speed — which is also the honest number, since production jobs
don't run 330 unrelated queries in one driver. A chunk is this file
run as ``--chunk <sf_dir> <names-json>``; it times through bench.py's
protocol (``bench.warmup``, then one ``bench.run_once`` per query).

Writes SWEEP_sf0.1.json: per-query wall seconds. Queries whose FIRST
run exceeds 5 s are run a second time in the same chunk session and
report the steady-state (second) run in `times`, with the cold first
run preserved in `cold_first_run` — measured round 5: graph_pagerank
reads 12.6 s cold vs 3.6 s steady (whole-stage-codegen compilation of
a 17-exchange iterative plan, paid once per JVM), and conflating the
two had the sweep flagging compile time as data-proportional cost.
Sub-5 s queries stay single-run (codegen included) — they are a smoke
screen for scaling anomalies, not a benchmark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", bench.DEFAULT_SF_DIR)
CHUNK = 40
TIMEOUT_S = 1800


BASELINE_SF_DIR = "/root/testdata/sf0.01"


def time_chunk(sf_dir: str, names: list[str]) -> dict:
    """The child's work: time ``names`` in this process's own session."""
    spark, reg = bench.session("sweep-chunk")
    bench.warmup(spark, reg, sf_dir)
    times, cold, errs = {}, {}, {}
    for name in names:
        try:
            t1 = bench.run_once(spark, reg, name, sf_dir)
        except Exception as ex:
            # errs only — a time-to-failure in `times` would inflate
            # total_sec and could list a BROKEN query in over_5s as if it
            # were a slow success (round-7 review finding)
            errs[name] = repr(ex)[:300]
            continue
        if t1 > 5.0:
            # steady-state rerun: first runs pay whole-stage-codegen
            # compilation (once per JVM), which is not data-proportional
            times[name] = round(bench.run_once(spark, reg, name, sf_dir), 3)
            cold[name] = round(t1, 3)
        else:
            times[name] = round(t1, 3)
    return {"times": times, "cold": cold, "errs": errs}


def run_chunk(sf_dir: str, names: list[str]) -> dict:
    """Time ``names`` at ``sf_dir`` in a fresh child process (its own
    JVM). A child that hangs or dies without a result reports every
    name under ``errs``, so a dead chunk never reads as one that ran."""
    cmd = [sys.executable, os.path.abspath(__file__), "--chunk", sf_dir, json.dumps(names)]
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        why = f"chunk timed out at {TIMEOUT_S}s (one query likely hung)"
    else:
        out = [l for l in proc.stdout.splitlines() if l.startswith("CHUNK_RESULT ")]
        if out:
            return json.loads(out[0][len("CHUNK_RESULT ") :])
        why = f"chunk died rc={proc.returncode}: {(proc.stderr or '')[-200:]}"
    return {"times": {}, "cold": {}, "errs": dict.fromkeys(names, why)}


def main() -> None:
    # names and tags only: every query runs in a child, so the parent
    # holds no session (it would sit idle for the whole sweep)
    from serverless_datalake_spark.queries import load_registry

    reg = load_registry()
    # `exact-baseline` queries are deliberately quadratic oracle twins
    # (kept for verification, never deployed at scale) — sweep them at
    # sf0.01 so the sf0.1 total reflects only production-shaped plans.
    baselines = [n for n, q in reg.items() if "exact-baseline" in q.tags]
    names = [n for n in reg if n not in baselines]
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    errs: dict[str, str] = {}
    for lo in range(0, len(names), CHUNK):
        t0 = time.time()
        res = run_chunk(SF_DIR, names[lo : lo + CHUNK])
        times.update(res["times"])
        cold.update(res["cold"])
        errs.update(res["errs"])
        print(
            f"{min(lo + CHUNK, len(names))}/{len(names)} "
            f"(chunk {time.time() - t0:.0f}s, cumulative {sum(times.values()):.0f}s)",
            flush=True,
        )
    base = run_chunk(BASELINE_SF_DIR, baselines) if baselines else {"times": {}, "errs": {}}
    errs.update(base["errs"])
    slow = {n: t for n, t in sorted(times.items(), key=lambda kv: -kv[1]) if t > 5.0}
    out = {
        "sf_dir": SF_DIR,
        "n_queries": len(times),
        "total_sec": round(sum(times.values()), 1),
        "over_5s": slow,
        "cold_first_run": dict(sorted(cold.items(), key=lambda kv: -kv[1])),
        "exact_baselines_sf0.01": base["times"],
        "errors": errs,
        "times": dict(sorted(times.items(), key=lambda kv: -kv[1])),
    }
    dst = os.path.join(REPO, "SWEEP_sf0.1.json")
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    print(f"total {out['total_sec']}s; {len(slow)} queries >5s; {len(errs)} errors; wrote {dst}")


if __name__ == "__main__":
    if sys.argv[1:2] == ["--chunk"]:
        res = time_chunk(sys.argv[2], json.loads(sys.argv[3]))
        print("CHUNK_RESULT " + json.dumps(res), flush=True)
    else:
        main()
