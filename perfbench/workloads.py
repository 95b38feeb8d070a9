"""The benchmark's workloads: one closed-loop client driving the
engine's public functions, with every operation's output checked.

``lake_ingest`` and ``lake_replay`` run the reference dataflow (ingest,
catalog, fan-out, replay, subscribe) on seeded blobs from ``lakegen``.
``query_tail`` and ``query_headline`` run registry queries against the
read-only fixture tables of a scale-factor directory.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

from perfbench import lakegen
from perfbench.context import peak_rss_mb, probe_s, probe_session
from perfbench.trace import Tracer, covered, layer_table

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 5  # session starts per run; setup_s is their median
WIDE_START = dt.datetime(2000, 1, 1)
WIDE_END = dt.datetime(2100, 1, 1)

QUERY_TAIL = (
    "dedup_minhash_components",
    "split_leakage_free",
    "sample_curriculum_stages",
    "graph_jaccard_links_truncated",
    "sample_poisson_bootstrap",
    "stats_permutation_test",
    "sample_dsir_importance",
    "graph_k_core",
    "tokenizer_bpe_train",
)


@dataclass
class Outcome:
    """Timed operations of one run: latency and events per op kind,
    and every failure (exception or wrong output)."""

    latencies: dict[str, list[float]] = field(default_factory=dict)
    events: Counter = field(default_factory=Counter)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, kind: str, seconds: float, events: int, problem: str | None, timed: bool) -> None:
        if problem:
            print(f"FAILED {kind}: {problem}", file=sys.stderr)
        if not timed:
            # untimed set-up and verification work still has to be right
            if problem:
                self.failures.append(f"{kind} (untimed): {problem}")
                self.attempted += 1
                self.failed += 1
            return
        self.attempted += 1
        if problem:
            self.failed += 1
            self.failures.append(f"{kind}: {problem}")
            return
        self.latencies.setdefault(kind, []).append(seconds)
        self.events[kind] += events


def tail(samples: list[float]) -> tuple[float | None, str]:
    """The highest whole percentile with at least ten samples beyond
    it (nearest rank), and its label; ``None`` when there are at most
    ten samples, because then no percentile has ten beyond it."""
    n = len(samples)
    if n <= 10:
        return None, f"none (n={n})"
    p = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(p / 100 * n))
    return sorted(samples)[rank - 1], f"p{p} (n={n})"


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(data files, total bytes of every file) under ``path``."""
    files, size = 0, 0
    for base, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(base, n))
            files += n.endswith(suffix) and not n.startswith(".")
    return files, size


def _problem(got, want) -> str | None:
    return None if got == want else f"got {got!r}, want {want!r}"


class Workload:
    """Generate the run's inputs once, start the engine's session
    ``setups`` times, prepare the workload's state once, warm up, run
    operations in a closed loop until the deadline, each followed by an
    untimed probe, then verify outside the timed region."""

    name = ""
    setups = SETUPS

    def __init__(self, work_dir: str, seed: int, tracer_on: bool, **options):
        self.work_dir = work_dir
        self.seed = seed
        self.tracer_on = tracer_on
        self.options = options
        self.out = Outcome()
        self.tracer = Tracer(None)
        self.setup_times: list[float] = []  # session starts
        self.probes: list[float] = []  # probe time after each loop step
        self.detail: dict = {}
        self.op_walls: Counter = Counter()  # traced ops: harness wall per kind

    # -- run loop --------------------------------------------------------
    def execute(self, seconds: float) -> None:
        from serverless_datalake_spark import session

        t0 = time.perf_counter()
        self.generate()
        self.detail["generate_s"] = time.perf_counter() - t0
        spark = None
        for _ in range(self.setups):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = session.get_spark(app_name=f"perfbench-{self.name}")
            self.setup_times.append(time.perf_counter() - t0)
        self.spark = spark
        t0 = time.perf_counter()
        self.prepare(spark, os.path.join(self.work_dir, "setup"))
        self.detail["prepare_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.warmup()
        self.detail["warmup_s"] = time.perf_counter() - t0
        probe = probe_session(spark)
        if self.tracer_on:
            self.tracer = Tracer(spark.sparkContext)
            self.instrument()
            self.tracer.listen_executions(spark)
        try:
            deadline = time.perf_counter() + seconds
            i = 0
            t0 = time.perf_counter()
            while True:
                self.step(i)
                self.probes.append(probe_s(probe))
                i += 1
                if time.perf_counter() >= deadline:
                    break
            self.detail["run_wall_s"] = time.perf_counter() - t0
            self.detail["ops"] = i
            self.after_run()
            self.verify()
        finally:
            self.tracer.close()
        self.detail["peak_rss_mb"] = peak_rss_mb()

    def timed_call(self, kind: str, fn, timed: bool = True):
        """Run ``fn`` as one operation; returns (value, seconds, problem)."""
        with self.tracer.op(kind, timed):
            t0 = time.perf_counter()
            try:
                value, problem = fn(), None
            except Exception as exc:  # an operation failure is a result, not a crash
                traceback.print_exc(file=sys.stderr)
                value, problem = None, f"{type(exc).__name__}: {exc}"
            seconds = time.perf_counter() - t0
        if self.tracer.enabled:
            self.op_walls[kind] += seconds
        return value, seconds, problem

    # -- per workload ------------------------------------------------------
    def generate(self) -> None:
        """Make the run's inputs from the seed; not part of ``setup_s``."""

    def prepare(self, spark, setup_dir: str) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        pass

    def instrument(self) -> None:
        pass

    def step(self, i: int) -> None:
        raise NotImplementedError

    def after_run(self) -> None:
        pass

    def verify(self) -> None:
        pass

    def metrics(self) -> dict[str, tuple[float, str]]:
        raise NotImplementedError

    def named_metrics(self) -> dict[str, tuple[float | None, str]]:
        return {}

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        raise NotImplementedError

    # -- shared metric helpers ------------------------------------------
    def setup_s(self) -> float:
        return statistics.median(self.setup_times)

    def probe_s(self) -> float:
        return statistics.median(self.probes)

    def exec_layers(self, kinds: tuple[str, ...]) -> dict[str, tuple[float, str]]:
        """Catalyst and execution counters, per operation of ``kinds``."""
        recs = [r for r in self.tracer.ops.values() if r.kind in kinds and r.timed]
        walls = {sp.op: sp.end - sp.start for sp in self.tracer.spans if sp.parent is None}
        n = max(1, len(recs))
        cores = int(self.spark.sparkContext.defaultParallelism)

        def per_op(f) -> float:
            return sum(f(r) for r in recs) / n

        run_s = per_op(lambda r: r.counters["executor_run_ms"] / 1e3)
        wall = per_op(lambda r: walls[r.op])
        mb = 1024 * 1024
        return {
            "catalyst.analysis_ms": (per_op(lambda r: r.catalyst_ms["analysis"]), "ms"),
            "catalyst.optimization_ms": (per_op(lambda r: r.catalyst_ms["optimization"]), "ms"),
            "catalyst.planning_ms": (per_op(lambda r: r.catalyst_ms["planning"]), "ms"),
            "exec.s": (per_op(lambda r: covered(r.stage_intervals)), "s"),
            "exec.executor_run_s": (run_s, "s"),
            "exec.executor_cpu_s": (per_op(lambda r: r.counters["executor_cpu_ns"] / 1e9), "s"),
            "exec.cpu_busy_frac": (run_s / (wall * cores) if wall else 0.0, "ratio"),
            "exec.input_mb": (per_op(lambda r: r.counters["input_bytes"] / mb), "MB"),
            "exec.shuffle_write_mb": (per_op(lambda r: r.counters["shuffle_write_bytes"] / mb), "MB"),
            "exec.shuffle_read_mb": (per_op(lambda r: r.counters["shuffle_read_bytes"] / mb), "MB"),
            "exec.spill_mb": (per_op(lambda r: r.counters["spill_bytes"] / mb), "MB"),
            "exec.peak_execution_memory_mb": (
                max((r.peak_execution_memory for r in recs), default=0) / mb,
                "MB",
            ),
            "exec.stages": (per_op(lambda r: r.stages), "count"),
            "exec.tasks": (per_op(lambda r: r.counters["tasks"]), "count"),
        }

    def self_coverage(self) -> dict[str, dict[str, float]]:
        """Per op kind: the summed self times of the op's spans (root
        excluded) and of all its spans, against the harness-measured
        wall time of those ops."""
        table = layer_table(self.tracer)
        out = {}
        for kind, rows in table.items():
            root = rows.get(f"op.{kind}", {"self_s": 0.0, "total_s": 0.0})
            layers = sum(r["self_s"] for name, r in rows.items() if name != f"op.{kind}")
            wall = self.op_walls.get(kind, 0.0)
            out[kind] = {
                "ops": root.get("calls", 0),
                "harness_wall_s": wall,
                "layers_self_s": layers,
                "root_self_s": root["self_s"],
                "all_self_over_wall": (layers + root["self_s"]) / wall if wall else 0.0,
                "layers_self_over_wall": layers / wall if wall else 0.0,
            }
        return out

    def layers_self_over_wall_min(self) -> float:
        """The lowest, over op kinds, of the layers' summed self times
        (root residue excluded) over the harness wall time."""
        return min((c["layers_self_over_wall"] for c in self.self_coverage().values()), default=0.0)


# ---------------------------------------------------------------------------
# lake workloads


class LakeState:
    """Directories of one lake and the truth of what was put in it."""

    def __init__(self, root: str):
        self.lake = os.path.join(root, "lake")
        self.catalog = os.path.join(root, "catalog")
        self.delivery = os.path.join(root, "delivery")
        self.order: list[str] = []  # batch ids in ingest order
        self.truth: dict[str, lakegen.BlobTruth] = {}
        self.ingest_ts: dict[str, dt.datetime] = {}
        self.delivered: Counter = Counter()  # rows under delivery/source=<s>
        self.catalog_rows = 0
        self.input_bytes = 0  # uncompressed staging bytes ingested
        self.redelivered_bytes = 0  # written under delivery by replays

    def landed(self, batch_id: str, truth: lakegen.BlobTruth) -> None:
        self.order.append(batch_id)
        self.truth[batch_id] = truth
        self.delivered.update(truth.per_source)
        self.catalog_rows += len(truth.per_source)
        self.input_bytes += truth.uncompressed_bytes

    def per_source(self, batches=None) -> Counter:
        total: Counter = Counter()
        for b in batches if batches is not None else self.order:
            total.update(self.truth[b].per_source)
        return total

    def stored_bytes(self) -> int:
        """Bytes the ingests left under lake, catalog and delivery."""
        on_disk = sum(dir_stats(p)[1] for p in (self.lake, self.catalog, self.delivery))
        return on_disk - self.redelivered_bytes

    def registry(self):
        from serverless_datalake_spark.sources.distribution import TopicRegistry

        # fan_out writes Hive-style source=<s> directories, while
        # TopicRegistry.resolve maps a source to <root>/<s>: a subscriber
        # can read ingest's fan-out only through explicit overrides
        sources = (*lakegen.SOURCES, lakegen.UNKNOWN)
        return TopicRegistry(
            self.delivery,
            {s: os.path.join(self.delivery, f"source={s}") for s in sources},
        )


class LakeWorkload(Workload):
    """Shared operations of the two lake workloads."""

    mix: dict[str, float] = {}
    tail_kinds: tuple[str, ...] = ()
    pool_size = 4  # distinct blobs the timed ingests cycle through
    history = 0  # batches ingested during each set-up

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        # traced run: the blob bytes of each ingest, and the replayed
        # rows of each replay (the base of the useful-work ratio)
        self.traced_staging_bytes: list[int] = []
        self.replay_rows_replayed: list[int] = []

    def generate(self) -> None:
        """The history's blobs, then the pool; the seed fixes every byte,
        so every set-up reuses them."""
        staging = os.path.join(self.work_dir, "staging")
        blobs = [lakegen.write_blob(staging, self.seed, b) for b in range(self.history + self.pool_size)]
        self.history_blobs, self.pool = blobs[: self.history], blobs[self.history :]

    def prepare(self, spark, setup_dir: str) -> None:
        from serverless_datalake_spark.sources import ingest

        self.state = LakeState(setup_dir)
        for b, (path, truth) in enumerate(self.history_blobs):
            ingest.ingest_batch(
                spark, path, self.state.lake, self.state.catalog, self.state.delivery, f"h{b:05d}"
            )
            self.state.landed(f"h{b:05d}", truth)
        if self.history:
            self._map_ingest_ts(spark)
        self.next_blob = 0

    def _map_ingest_ts(self, spark, batch_id: str | None = None) -> None:
        """Catalog → {batch_id: ingest_ts} (all batches, or one)."""
        from pyspark.sql import functions as F

        cat = spark.read.parquet(self.state.catalog)
        if batch_id is not None:
            cat = cat.where(F.col("file_key").endswith(f"/{batch_id}.parquet"))
        rows = cat.select(
            F.regexp_extract("file_key", r"([^/]+)\.parquet$", 1).alias("b"), "ingest_ts"
        ).distinct().collect()
        for r in rows:
            self.state.ingest_ts[r["b"]] = r["ingest_ts"]

    def instrument(self) -> None:
        from serverless_datalake_spark.sources import distribution, ingest, lake, replay

        t = self.tracer
        # patched exactly where the callers look the names up
        t.wrap(ingest, "ingest_batch")
        t.wrap(lake, "read_json_events")
        t.wrap(lake, "write_partitioned")
        t.wrap(ingest, "build_catalog_entries")
        t.wrap(ingest, "append_catalog")
        t.wrap(ingest, "fan_out")
        t.wrap(replay, "replay")
        t.wrap(replay, "select_replay_keys")
        t.wrap(replay, "read_catalog")
        t.wrap(distribution, "subscribe")

    # -- operations --------------------------------------------------------
    def ingest_op(self, timed: bool = True) -> None:
        from serverless_datalake_spark.sources import ingest

        path, truth = self.pool[self.next_blob % len(self.pool)]
        batch_id = f"b{self.next_blob:05d}"
        self.next_blob += 1
        st = self.state
        if self.tracer.enabled:
            self.traced_staging_bytes.append(truth.compressed_bytes)
        res, seconds, problem = self.timed_call(
            "ingest",
            lambda: ingest.ingest_batch(self.spark, path, st.lake, st.catalog, st.delivery, batch_id),
            timed,
        )
        if problem is None:
            problem = _problem(
                (res["n_events"], res["n_sources"]), (truth.lines, len(truth.per_source))
            )
        # the batch landed even when its report was wrong
        st.landed(batch_id, truth)
        self.out.record("ingest", seconds, truth.lines, problem, timed)

    def replay_op(self, source: str, first: int, k: int, timed: bool = True, wide: bool = False) -> None:
        from serverless_datalake_spark.sources import replay

        st = self.state
        batches = st.order[first : first + k]
        if wide:
            start, end = WIDE_START, WIDE_END
        else:
            start, end = st.ingest_ts[batches[0]], st.ingest_ts[batches[-1]]
        want = {
            "n_batches": sum(source in st.truth[b].per_source for b in batches),
            "n_events": st.per_source(batches)[source],
        }
        if self.tracer.enabled:
            self.replay_rows_replayed.append(want["n_events"])
        before = dir_stats(st.delivery)[1]
        res, seconds, problem = self.timed_call(
            "replay",
            lambda: replay.replay(self.spark, st.catalog, st.lake, st.delivery, source, start, end),
            timed,
        )
        st.redelivered_bytes += dir_stats(st.delivery)[1] - before
        if problem is None:
            problem = _problem(res, want)
            st.delivered[source] += res["n_events"]
        if problem is None:
            # replay must not re-catalogue (recorder:94–99)
            problem = _problem(self.spark.read.parquet(st.catalog).count(), st.catalog_rows)
        self.out.record("replay", seconds, want["n_events"], problem, timed)

    def subscribe_op(self, source: str, timed: bool = True) -> None:
        from serverless_datalake_spark.sources import distribution

        reg = self.state.registry()

        def read() -> int:
            df = distribution.subscribe(self.spark, reg, source)
            with self.tracer.span("exec.count"):
                return df.count()

        n, seconds, problem = self.timed_call("subscribe", read, timed)
        want = self.state.delivered[source]
        if problem is None:
            problem = _problem(n, want)
        self.out.record("subscribe", seconds, want, problem, timed)

    # -- end of run ----------------------------------------------------------
    def after_run(self) -> None:
        self.detail["stored_bytes"] = self.state.stored_bytes()
        self.detail["redelivered_bytes"] = self.state.redelivered_bytes
        self.detail["input_bytes"] = self.state.input_bytes
        self.detail["lake_files"], self.detail["lake_bytes"] = dir_stats(self.state.lake)
        self.detail["batches"] = len(self.state.order)

    def conservation(self) -> None:
        """lake rows = Σ catalog n_records = rows delivered by ingest and
        replay = lines generated, per source and in total."""
        from pyspark.sql import functions as F

        st = self.state
        spark = self.spark
        want = st.per_source()

        def by_source(df, value) -> Counter:
            return Counter({r["source"]: r["n"] for r in df.groupBy("source").agg(value.alias("n")).collect()})

        checks = {
            "lake": (by_source(spark.read.parquet(st.lake), F.count("*")), want),
            "catalog": (by_source(spark.read.parquet(st.catalog), F.sum("n_records")), want),
            "delivery": (by_source(spark.read.parquet(st.delivery), F.count("*")), st.delivered),
        }
        total_lines = sum(st.truth[b].lines for b in st.order)
        for name, (got, exp) in checks.items():
            problem = _problem(dict(got), dict(exp))
            self.out.record(f"conservation.{name}", 0.0, 0, problem, timed=False)
        self.out.record(
            "conservation.total", 0.0, 0, _problem(sum(want.values()), total_lines), timed=False
        )

    # -- metrics ---------------------------------------------------------------
    def metrics(self) -> dict[str, tuple[float, str]]:
        return {
            "setup_s": (self.setup_s(), "s"),
            "op_mix_over_probe": (self.op_mix_s() / self.probe_s(), "ratio"),
            "stored_bytes_per_input_byte": (self.detail["stored_bytes"] / self.detail["input_bytes"], "ratio"),
        }

    def op_mix_s(self) -> float:
        """Σ over op kinds of (share in the nominal mix × median latency)."""
        p50 = {k: statistics.median(v) for k, v in self.out.latencies.items()}
        nan = float("nan")  # no successful op of a kind: the run is not correct
        return sum(w * p50.get(k, nan) for k, w in self.mix.items())

    def named_metrics(self) -> dict[str, tuple[float | None, str]]:
        lat, ev = self.out.latencies, self.out.events
        out: dict[str, tuple[float | None, str]] = {
            "setup_s": (self.setup_s(), "s"),
            "setup_cold_s": (self.setup_times[0], "s"),
            "generate_s": (self.detail["generate_s"], "s"),
            "prepare_s": (self.detail["prepare_s"], "s"),
            "op_mix_s": (self.op_mix_s(), "s"),
            "probe_s": (self.probe_s(), "s, median"),
        }
        for kind in ("ingest", "replay", "subscribe"):
            if kind in lat:
                out[f"{kind}_p50_s"] = (statistics.median(lat[kind]), "s")
        if "ingest" in lat:
            out["ingest_events_per_s"] = (ev["ingest"] / sum(lat["ingest"]), "events/s")
        if "replay" in lat:
            out["replay_events_per_s"] = (ev["replay"] / sum(lat["replay"]), "events/s")
        for kind in self.tail_kinds:
            value, label = tail(lat.get(kind, []))
            out[f"{kind}_tail_s"] = (value, f"s, {label}")
        out["stored_bytes_per_input_byte"] = self.metrics()["stored_bytes_per_input_byte"]
        out["peak_rss_mb"] = (self.detail["peak_rss_mb"], "MB")
        return out

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        table = layer_table(self.tracer)
        ing = table.get("ingest", {})
        rep = table.get("replay", {})
        sub = table.get("subscribe", {})

        def mean(rows, name, col="total_s") -> float:
            r = rows.get(name)
            return r[col] / r["calls"] if r else 0.0

        ingest_recs = [r for r in self.tracer.ops.values() if r.kind == "ingest"]
        replay_recs = [r for r in self.tracer.ops.values() if r.kind == "replay"]
        subscribe_recs = [r for r in self.tracer.ops.values() if r.kind == "subscribe"]
        n_ing = max(1, len(ingest_recs))
        n_rep = max(1, len(replay_recs))
        staging_read = sum(r.fs_bytes_read for r in ingest_recs)
        staging_bytes = sum(self.traced_staging_bytes) or 1
        rows_in_lake = sum(self.state.per_source().values()) or 1
        # what the engine's file scans read, from the executed plans
        st = self.state
        catalog_files = sum(r.scanned(st.catalog)[0] for r in replay_recs)
        lake_rows = sum(r.scanned(st.lake)[1] for r in replay_recs)
        delivery_files = sum(r.scanned(st.delivery)[0] for r in subscribe_recs)
        return {
            "session.get_spark_s": (self.setup_s(), "s"),
            "lake.read_json_events_s": (mean(ing, "lake.read_json_events"), "s"),
            "lake.write_partitioned_s": (mean(ing, "lake.write_partitioned"), "s"),
            "lake.files_written": (self.detail["lake_files"] / max(1, self.detail["batches"]), "count"),
            "lake.bytes_written_per_event": (self.detail["lake_bytes"] / rows_in_lake, "B"),
            "ingest.ingest_batch.self_s": (mean(ing, "ingest.ingest_batch", "self_s"), "s"),
            "ingest.build_catalog_entries_s": (mean(ing, "ingest.build_catalog_entries"), "s"),
            "ingest.append_catalog_s": (mean(ing, "ingest.append_catalog"), "s"),
            "ingest.fan_out_s": (mean(ing, "ingest.fan_out"), "s"),
            "ingest.jobs_per_batch": (sum(r.jobs for r in ingest_recs) / n_ing, "count"),
            "ingest.staging_scans_per_batch": (staging_read / staging_bytes, "ratio"),
            "replay.select_replay_keys_s": (mean(rep, "replay.select_replay_keys"), "s"),
            "replay.replay.self_s": (mean(rep, "replay.replay", "self_s"), "s"),
            "replay.jobs_per_call": (sum(r.jobs for r in replay_recs) / n_rep, "count"),
            "replay.catalog_files_read": (catalog_files / n_rep, "count"),
            "replay.lake_rows_scanned_per_replayed_row": (
                lake_rows / max(1, sum(self.replay_rows_replayed)),
                "ratio",
            ),
            "replay.replayed_rows_per_call": (sum(self.replay_rows_replayed) / n_rep, "count"),
            "distribution.subscribe_s": (mean(sub, "distribution.subscribe"), "s"),
            "distribution.files_read": (delivery_files / max(1, len(subscribe_recs)), "count"),
            **self.exec_layers(("ingest", "replay", "subscribe")),
            "trace.layers_self_over_wall_min": (self.layers_self_over_wall_min(), "ratio"),
        }


class LakeIngest(LakeWorkload):
    """Write path only: each operation ingests the next blob."""

    name = "lake_ingest"
    mix = {"ingest": 1.0}
    tail_kinds = ("ingest",)

    def warmup(self) -> None:
        # two untimed ingests into a throw-away lake, so the timed loop
        # starts with loaded classes and generated code
        from serverless_datalake_spark.sources import ingest

        w = os.path.join(self.work_dir, "warmup")
        for b in range(2):
            path, _ = self.pool[b]
            ingest.ingest_batch(self.spark, path, f"{w}/lake", f"{w}/catalog", f"{w}/delivery", f"w{b}")

    def step(self, i: int) -> None:
        self.ingest_op()

    def verify(self) -> None:
        self.conservation()
        # untimed read-back of the Zipf's tail source over the whole
        # history; in the traced run these calls feed the replay and
        # distribution layer metrics
        source = lakegen.SOURCES[-1]
        self.replay_op(source, 0, len(self.state.order), timed=False, wide=True)
        self.subscribe_op(source, timed=False)


class LakeReplay(LakeWorkload):
    """Read path: replays and subscriber reads over a prebuilt history,
    with an ingest every 8th operation.

    Operations come in cycles of eight: one ingest, then four replays
    and three subscriber reads in turn. The three reads stand for three
    subscribers that each read their topic once per flush, as the
    reference publishes every batch to each source's topic
    (recorder:55–65); replays, the workload's primary operation, take
    the other four slots. Sources are a stratified draw from the Zipf
    and replay windows a stratified draw of ``k`` from 1 to the whole
    history, so every cycle covers the same spread of work and runs of
    different seeds stay comparable.

    The history is ``history`` batches: that many minutes of full-rate
    ingest at the reference's 60 s / 10 MB flush (stack.py:138–141).
    Its size is set by the time budget: the history is ingested once
    per run, at 2.5–4 s a batch."""

    name = "lake_replay"
    mix = {"replay": 4 / 8, "subscribe": 3 / 8, "ingest": 1 / 8}
    tail_kinds = ("replay",)
    history = 3  # batches, bounded by the gate's time budget (see README)
    pool_size = 2

    def prepare(self, spark, setup_dir: str) -> None:
        super().prepare(spark, setup_dir)
        self.rng = random.Random(self.seed)
        self.cycle: list[tuple] = []

    def warmup(self) -> None:
        # first replay and first subscriber read of the session, untimed
        self.replay_op(lakegen.SOURCES[0], 0, 1, timed=False)
        self.subscribe_op(lakegen.SOURCES[0], timed=False)

    def _strata(self, m: int) -> list[float]:
        """``m`` uniform draws, one from each ``1/m`` stratum, shuffled."""
        u = [(j + self.rng.random()) / m for j in range(m)]
        self.rng.shuffle(u)
        return u

    def _sources(self, m: int) -> list[str]:
        cdf = list(itertools.accumulate(lakegen.zipf_weights()))
        return [lakegen.SOURCES[min(bisect.bisect_right(cdf, u), len(cdf) - 1)] for u in self._strata(m)]

    def _deal(self) -> list[tuple]:
        """One cycle: the ingest, then replays and subscriber reads in
        turn, so that a run shorter than a cycle still times every kind."""
        n = len(self.state.order)
        replays = [
            ("replay", source, self.rng.randint(0, n - k), k)
            for source, k in ((s, 1 + min(n - 1, int(u * n))) for s, u in zip(self._sources(4), self._strata(4)))
        ]
        reads = [("subscribe", source) for source in self._sources(3)]
        return [("ingest",), *(op for pair in itertools.zip_longest(replays, reads) for op in pair if op)]

    def step(self, i: int) -> None:
        if not self.cycle:
            self.cycle = self._deal()
        op = self.cycle.pop(0)
        if op[0] == "ingest":
            self.ingest_op()
            self._map_ingest_ts(self.spark, self.state.order[-1])
        elif op[0] == "replay":
            _, source, first, k = op
            self.replay_op(source, first, k)
        else:
            self.subscribe_op(op[1])

    def verify(self) -> None:
        self.conservation()


# ---------------------------------------------------------------------------
# query workloads


class QueryWorkload(Workload):
    """Registry queries, each ``reg[name].fn(spark, sf_dir)`` followed by
    a noop write carrying a row-count observation; whole passes until
    the deadline."""

    names: tuple[str, ...] = ()

    def prepare(self, spark, setup_dir: str) -> None:
        from serverless_datalake_spark.queries import load_registry

        sf_dir = self.options.get("sf_dir")
        if not sf_dir or not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
            raise SystemExit(f"{self.name}: --sf-dir must name a fixture directory (got {sf_dir!r})")
        self.sf_dir = sf_dir
        self.reg = load_registry()
        order = list(self.names)
        how = self.options.get("order", "seeded")
        if how == "seeded":
            random.Random(self.seed).shuffle(order)
        elif how == "reversed":
            order.reverse()
        self.order = order
        self.expected_path = os.path.join(HERE, "expected", f"{os.path.basename(os.path.normpath(sf_dir))}.json")
        self.expected = {}
        if os.path.exists(self.expected_path):
            with open(self.expected_path) as f:
                self.expected = json.load(f)
        self.passes: list[dict[str, float | None]] = []
        self.shapes: dict[str, dict] = {}
        self.query_ops: dict[str, list[int]] = {}

    def warmup(self) -> None:
        self.reg["scan_project"].fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def run_query(self, name: str) -> float | None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        shape = {}

        def go():
            with self.tracer.span("queries.build"):
                df = self.reg[name].fn(self.spark, self.sf_dir)
            obs = Observation()
            with self.tracer.span("exec.noop_write"):
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
            shape.update(rows=obs.get["rows"], columns=sorted(df.columns))

        _, seconds, problem = self.timed_call("query", go)
        if self.tracer.enabled:
            self.query_ops.setdefault(name, []).append(next(reversed(self.tracer.ops)))
        if problem is None:
            self.shapes[name] = dict(shape)
            want = self.expected.get(name)
            if self.options.get("write_expected"):
                pass  # recording: this run defines the expectation
            elif want is None:
                problem = "no expected output recorded"
            else:
                problem = _problem(shape, want)
        self.out.record("query", seconds, 0, problem, True)
        return seconds if problem is None else None

    def step(self, i: int) -> None:
        times = {n: self.run_query(n) for n in self.order}
        self.passes.append(times)

    def metrics(self) -> dict[str, tuple[float, str]]:
        walls, geos = [], []
        for p in self.passes:
            ok = [t for t in p.values() if t]
            walls.append(sum(ok))
            geos.append(math.exp(sum(math.log(t) for t in ok) / len(ok)) if ok else float("nan"))
        return {
            "setup_s": (self.setup_s(), "s"),
            "query_wall_s": (statistics.median(walls), "s"),
            "query_geomean_s": (statistics.median(geos), "s"),
            "peak_rss_mb": (self.detail["peak_rss_mb"], "MB"),
        }

    def named_metrics(self) -> dict[str, tuple[float | None, str]]:
        return dict(self.metrics())

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        recs = list(self.tracer.ops.values())
        build_spans = {sp.sid for sp in self.tracer.spans if sp.name == "queries.build"}
        build = layer_table(self.tracer).get("query", {}).get("queries.build", {"total_s": 0.0})
        n = max(1, len(recs))
        out = {
            "session.get_spark_s": (self.setup_s(), "s"),
            "queries.build_s": (build["total_s"] / n, "s"),
            "queries.eager_jobs": (
                sum(j for r in recs for sid, j in r.jobs_by_span.items() if sid in build_spans) / n,
                "count",
            ),
            **self.exec_layers(("query",)),
        }
        if self.names == QUERY_TAIL:
            mb = 1024 * 1024
            for name in self.order:
                mine = [self.tracer.ops[op] for op in self.query_ops.get(name, ())]
                if not mine:
                    continue
                spans = [sp for sp in self.tracer.spans if sp.op in {r.op for r in mine}]
                b = sum(sp.end - sp.start for sp in spans if sp.name == "queries.build") / len(mine)
                e = sum(sp.end - sp.start for sp in spans if sp.name == "exec.noop_write") / len(mine)
                w = sum(r.counters["shuffle_write_bytes"] for r in mine) / len(mine) / mb
                out[f"queries.{name}.build_s"] = (b, "s")
                out[f"queries.{name}.exec_s"] = (e, "s")
                out[f"queries.{name}.shuffle_write_mb"] = (w, "MB")
        return out

    def write_expected(self) -> str:
        os.makedirs(os.path.dirname(self.expected_path), exist_ok=True)
        merged = dict(self.expected)
        merged.update(self.shapes)
        with open(self.expected_path, "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)
            f.write("\n")
        return self.expected_path


class QueryTail(QueryWorkload):
    name = "query_tail"
    names = QUERY_TAIL


class QueryHeadline(QueryWorkload):
    name = "query_headline"

    @property
    def names(self) -> tuple[str, ...]:  # type: ignore[override]
        import bench

        return tuple(bench.HEADLINE)


WORKLOADS = {w.name: w for w in (LakeIngest, LakeReplay, QueryTail, QueryHeadline)}
