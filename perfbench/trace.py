"""In-memory spans around the engine's public functions, plus stage
counters from Spark's status store and Catalyst phase times.

A span is (id, name, start, end, parent, op). Spans are opened by the
benchmark: one root span per operation (``op.<kind>``) and one span
per wrapped module attribute, replaced exactly where callers look it
up (``lake.write_partitioned``, ``replay.read_catalog``, ...). Each
span runs its jobs under its own Spark job group, so stage counters
are attributed to the innermost span that started them. Catalyst
phase times and the file-scan metrics of each query execution's
executed plan (files and rows each ``FileSourceScanExec`` read) come
from a ``QueryExecutionListener``; the listener bus is drained at the
end of each operation, so every query execution of an operation is
attributed to it.

Nothing here runs unless a ``Tracer`` is created with a SparkContext;
the untraced run uses ``Tracer(None)``, whose spans cost one
``contextmanager`` call and record nothing.
"""

from __future__ import annotations

import time
from collections import defaultdict, deque
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "executor_run_ms",
    "executor_cpu_ns",
    "input_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "tasks",
)
CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int


@dataclass
class OpRecord:
    op: int
    kind: str
    timed: bool
    jobs: int = 0
    stages: int = 0
    peak_execution_memory: int = 0
    stage_intervals: list[tuple[float, float]] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0))
    catalyst_ms: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(CATALYST_PHASES, 0.0)
    )
    jobs_by_span: dict[int, int] = field(default_factory=dict)
    fs_bytes_read: int = 0  # local-filesystem bytes read while the op ran
    # file scans the engine ran: metric id -> (root path, files, rows)
    scans: dict[int, tuple[str, int, int]] = field(default_factory=dict)

    def scanned(self, root: str) -> tuple[int, int]:
        """(files, rows) the op's scans read under ``root``."""
        hits = [(f, r) for path, f, r in self.scans.values() if _under(path, root)]
        return sum(f for f, _ in hits), sum(r for _, r in hits)


def _under(path: str, root: str) -> bool:
    path = path.removeprefix("file:").rstrip("/")
    root = root.rstrip("/")
    return path == root or path.startswith(root + "/")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    out = {}
    for sp in spans:
        clipped = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in children.get(sp.sid, ())
            if min(e, sp.end) > max(s, sp.start)
        ]
        out[sp.sid] = (sp.end - sp.start) - covered(clipped)
    return out


class _ExecutionListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``.
    It only keeps each ended query execution; reading its phases and
    scans over py4j waits until the operation has ended, so that cost
    stays out of the operation's wall time."""

    def __init__(self, sink: deque):
        self._sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        self._sink.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._sink.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _seq(seq) -> list:
    """A Scala ``Seq`` as a Python list. Indexing costs one py4j call
    per element; iterating a converted Java list costs far more (its
    end is signalled by an exception crossing the gateway)."""
    return [seq.apply(i) for i in range(seq.size())]


def _phases_ms(conv, qe) -> dict[str, float]:
    """Catalyst phase times of one query execution."""
    phases = conv.asJava(qe.tracker().phases())
    got = {k: phases.get(k) for k in CATALYST_PHASES}
    return {k: v.durationMs() for k, v in got.items() if v is not None}


def _scans(plan) -> dict[int, tuple[str, int, int]]:
    """Every ``FileSourceScanExec`` reachable from ``plan``: through
    children and subqueries, adaptive final plans, query stages and
    cached relations. Keyed by the id of its ``numFiles`` metric, so a
    scan reached twice (a reused exchange, a cache read by two actions)
    counts once."""
    out: dict[int, tuple[str, int, int]] = {}
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif cls == "InMemoryTableScanExec":
            todo.append(node.relation().cachedPlan())
        elif cls == "FileSourceScanExec":
            m = node.metrics()
            files, rows = m.apply("numFiles"), m.apply("numOutputRows")
            root = node.relation().location().rootPaths().head().toString()
            out[files.id()] = (root, files.value(), rows.value())
        todo.extend(_seq(node.children()))
        todo.extend(_seq(node.subqueries()))
    return out


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[Span] = []
        self.ops: dict[int, OpRecord] = {}
        self._stack: list[Span] = []
        self._wrapped: list[tuple[object, str, object]] = []
        self._executions: deque = deque()  # query executions, appended by the listener
        self._listener = None
        self._next = 0

    # -- spans ---------------------------------------------------------
    def _group(self, sid: int) -> str:
        return f"perfbench-{sid}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled or not self._stack:
            # spans live inside operations; outside one there is nothing
            # to attribute to
            yield
            return
        parent = self._stack[-1]
        sp = Span(self._next, name, 0.0, 0.0, parent.sid, parent.op)
        self._next += 1
        self._stack.append(sp)
        self.sc.setJobGroup(self._group(sp.sid), name)
        sp.start = time.perf_counter()
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(self._group(parent.sid), parent.name)
            self.spans.append(sp)

    @contextmanager
    def op(self, kind: str, timed: bool = True):
        """Root span of one operation; harvests its counters on exit."""
        if not self.enabled:
            yield
            return
        self._drain_executions()  # executions before this op belong to the harness
        sp = Span(self._next, f"op.{kind}", 0.0, 0.0, None, self._next)
        self._next += 1
        rec = OpRecord(sp.op, kind, timed)
        self.ops[sp.op] = rec
        self._stack.append(sp)
        self.sc.setJobGroup(self._group(sp.sid), sp.name)
        read0 = self._fs_bytes_read()
        sp.start = time.perf_counter()
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            rec.fs_bytes_read = self._fs_bytes_read() - read0
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self._harvest(rec)

    def wrap(self, module, attr: str) -> None:
        """Replace ``module.attr`` by a call of the original inside a
        span named ``<module>.<attr>``."""
        if not self.enabled:
            return
        orig = getattr(module, attr)
        label = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        def spanned(*args, **kwargs):
            with self.span(label):
                return orig(*args, **kwargs)

        spanned.__wrapped__ = orig
        setattr(module, attr, spanned)
        self._wrapped.append((module, attr, orig))

    def close(self) -> None:
        for module, attr, orig in reversed(self._wrapped):
            setattr(module, attr, orig)
        self._wrapped.clear()
        if self._listener is not None:
            manager, listener = self._listener
            manager.unregister(listener)
            self._listener = None

    # -- Spark-side counters ---------------------------------------------
    def listen_executions(self, spark) -> None:
        """Register the query-execution listener on ``spark``."""
        if not self.enabled:
            return
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        listener = _ExecutionListener(self._executions)
        manager = spark._jsparkSession.listenerManager()
        manager.register(listener)
        self._listener = (manager, listener)

    def _fs_bytes_read(self) -> int:
        """Bytes read through Hadoop's local filesystem, process-wide
        (in local mode the executors run in this JVM). Unlike Spark's
        input metrics it excludes reads of cached blocks."""
        stats = self.sc._jvm.org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics().get("file")
        return 0 if stats is None else stats.getLong("bytesRead")

    def _drain_executions(self) -> list:
        """Every query execution that has ended so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        got = []
        while self._executions:
            got.append(self._executions.popleft())
        return got

    def _harvest(self, rec: OpRecord) -> None:
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        for qe in self._drain_executions():
            phases = _phases_ms(conv, qe)
            for k in rec.catalyst_ms:
                rec.catalyst_ms[k] += phases.get(k, 0)
            # a later execution sees a scan's final values
            rec.scans.update(_scans(qe.executedPlan()))
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        op_spans = [sp for sp in self.spans if sp.op == rec.op]
        for sp in op_spans:
            job_ids = tracker.getJobIdsForGroup(self._group(sp.sid))
            rec.jobs_by_span[sp.sid] = len(job_ids)
            rec.jobs += len(job_ids)
            for jid in job_ids:
                for stage_id in _seq(store.job(jid).stageIds()):
                    st = store.lastStageAttempt(stage_id)
                    if st.submissionTime().isEmpty() or st.completionTime().isEmpty():
                        continue  # skipped: its output was reused
                    rec.stages += 1
                    rec.stage_intervals.append(
                        (
                            st.submissionTime().get().getTime() / 1e3,
                            st.completionTime().get().getTime() / 1e3,
                        )
                    )
                    c = rec.counters
                    c["executor_run_ms"] += st.executorRunTime()
                    c["executor_cpu_ns"] += st.executorCpuTime()
                    c["input_bytes"] += st.inputBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    c["tasks"] += st.numTasks()
                    rec.peak_execution_memory = max(
                        rec.peak_execution_memory, st.peakExecutionMemory()
                    )


def layer_table(tracer: Tracer) -> dict[str, dict[str, dict[str, float]]]:
    """Per op kind: for each span name, its calls and their total and
    self seconds."""
    selfs = self_times(tracer.spans)
    out: dict[str, dict[str, dict[str, float]]] = {}
    for sp in tracer.spans:
        kind = tracer.ops[sp.op].kind
        row = out.setdefault(kind, {}).setdefault(sp.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += sp.end - sp.start
        row["self_s"] += selfs[sp.sid]
    return out
