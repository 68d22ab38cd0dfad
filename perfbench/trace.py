"""Per-layer counters, read from outside the engine.

Every span wraps a call into one of the engine's public layers. With
tracing on, a span also reads Spark's own counters when it ends: jobs and
stages from the status store, codegen totals from `CodeGenerator`, SQL
metrics from the final plan graph of each execution, and the Catalyst
phase times of every `QueryExecution` that ran (a `QueryExecutionListener`
called back over py4j). Spans nest: what an inner span read is added into
the span around it. With tracing off a span only times the call, so the
untraced run pays nothing but a clock read.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

PHASES = ("analysis", "optimization", "planning")
# per-span values that an enclosing span takes the max of, not the sum
MAXED = ("stage.skew_ratio",)


class _PhaseListener:
    """org.apache.spark.sql.util.QueryExecutionListener, implemented in
    Python: sums the Catalyst phase times of every execution that ends."""

    def __init__(self):
        self.totals = defaultdict(float)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        ph = qe.tracker().phases()
        for p in PHASES:
            o = ph.get(p)
            if o.isDefined():
                self.totals[f"driver.{p}_s"] += o.get().durationMs() / 1e3

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        self.onSuccess(func_name, qe, 0)

    def take(self) -> dict:
        out = {f"driver.{p}_s": self.totals.get(f"driver.{p}_s", 0.0) for p in PHASES}
        self.totals = defaultdict(float)
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark, enabled: bool, sampler=None):
        self.enabled = enabled
        self.sampler = sampler
        self.active = True  # samples are kept only while active (warm rounds)
        # metric -> list of per-operation values; medians are reported
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.detail: list[dict] = []
        self._open: list[dict] = []  # carried totals of the enclosing spans
        if enabled:
            from pyspark.java_gateway import ensure_callback_server_started

            jvm = spark._jvm
            self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
            self._cm = jvm.org.apache.spark.metrics.source.CodegenMetrics
            self._store = spark.sparkContext._jsc.sc().statusStore()
            self._status = spark.sparkContext.statusTracker()
            self._seen_jobs = set(self._status.getJobIdsForGroup(None))
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._seen_exec = self._sql.executionsCount()
            self._acc = jvm.org.apache.spark.util.AccumulatorContext
            self._bus = spark.sparkContext._jsc.sc().listenerBus()
            ensure_callback_server_started(spark.sparkContext._gateway)
            self._phases = _PhaseListener()
            spark._jsparkSession.listenerManager().register(self._phases)

    # ------------------------------------------------------------ spans

    def add(self, metric: str, value: float) -> None:
        if self.active:
            self.samples[metric].append(float(value))

    @contextmanager
    def span(self, name: str):
        """Time a block; with tracing on, collect what the Spark jobs and SQL
        executions it ran did (exec.*, shuffle.*, spill.bytes, jvm.gc_s,
        driver phases, udf.*, broadcast.bytes, join.rows, codegen.*,
        py.worker_spawns) into the record it yields."""
        rec: dict = {}
        if self.enabled:
            cg0 = (self._cg.compileTime(), self._cm.METRIC_COMPILATION_TIME().getCount())
            w0 = len(self.sampler.workers) if self.sampler else 0
            self._open.append(defaultdict(float))
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            if self.enabled:
                # the status stores fill from an asynchronous listener bus
                self._bus.waitUntilEmpty(30_000)
                own = {**self._jobs_since(), **self._sql_since(), **self._phases.take()}
                for k, v in self._open.pop().items():
                    own[k] = max(own.get(k, 0.0), v) if k in MAXED else own.get(k, 0.0) + v
                if self._open:  # hand what this span read to the one around it
                    outer = self._open[-1]
                    for k, v in own.items():
                        outer[k] = max(outer[k], v) if k in MAXED else outer[k] + v
                rec.update(own)
                rec["codegen.compile_s"] = (self._cg.compileTime() - cg0[0]) / 1e9
                rec["codegen.compiles"] = (
                    self._cm.METRIC_COMPILATION_TIME().getCount() - cg0[1]
                )
                rec["codegen.max_method_bytes"] = (
                    self._cm.METRIC_GENERATED_METHOD_BYTECODE_SIZE().getSnapshot().getMax()
                )
                if self.sampler:
                    self.sampler.sample()
                    rec["py.worker_spawns"] = len(self.sampler.workers) - w0
                rec["span"] = name
                self.detail.append(dict(rec))

    def _jobs_since(self) -> dict:
        jobs = set(self._status.getJobIdsForGroup(None)) - self._seen_jobs
        self._seen_jobs |= jobs
        out = defaultdict(float)
        out["jobs"] = len(jobs)
        slowest = (-1, None)
        stage_ids = set()
        for j in jobs:
            info = self._status.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numTasks()
            out["exec.s"] += sd.executorRunTime() / 1e3
            out["shuffle.write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle.read_bytes"] += sd.shuffleReadBytes()
            out["spill.bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["jvm.gc_s"] += sd.jvmGcTime() / 1e3
            if sd.executorRunTime() > slowest[0]:
                slowest = (sd.executorRunTime(), sd)
        sd = slowest[1]
        if sd is not None:
            tasks = self._store.taskList(sd.stageId(), sd.attemptId(), 100000)
            durs = [
                tasks.apply(i).duration().get()
                for i in range(tasks.size())
                if tasks.apply(i).duration().isDefined()
            ]
            med = statistics.median(durs) if durs else 0
            out["stage.skew_ratio"] = max(durs) / med if med else 1.0
        return dict(out)

    # ------------------------------------------------------------ query

    def build(self, fn, *args):
        """Call a function that returns a lazy DataFrame, in a span: its wall
        time is driver.build_s and the Spark jobs it starts are
        driver.eager_jobs."""
        with self.span("build") as r:
            df = fn(*args)
        out_rec = {"driver.build_s": r["wall_s"]}
        if self.enabled:
            out_rec["driver.eager_jobs"] = r["jobs"]
        return df, out_rec

    def _sql_since(self) -> dict:
        """SQL metrics of the executions finished since the last span, read
        from the final (adaptive) plan graph Spark keeps per execution."""
        # execution ids are JVM-global (they keep counting across the set-up
        # repetitions' contexts); the store lists this context's in id order
        n = self._sql.executionsCount()
        if n == self._seen_exec:
            return {}
        new = self._sql.executionsList(self._seen_exec, n - self._seen_exec)
        out = defaultdict(float)
        for j in range(new.size()):
            graph = self._sql.planGraph(new.apply(j).executionId())
            nodes, edges = graph.allNodes(), graph.edges()
            by_id, vals_of, child = {}, {}, {}
            for i in range(edges.size()):
                e = edges.apply(i)
                child.setdefault(e.toId(), []).append(e.fromId())
            for i in range(nodes.size()):
                node = nodes.apply(i)
                ms = node.metrics()
                vals = {}
                for k in range(ms.size()):
                    m = ms.apply(k)
                    acc = self._acc.get(m.accumulatorId())
                    if acc.isDefined():
                        vals[m.name()] = float(acc.get().value())
                by_id[node.id()] = node.name()
                vals_of[node.id()] = vals
            for nid, name in by_id.items():
                vals = vals_of[nid]
                if any(t in name for t in ("Python", "Pandas", "Arrow")):
                    out["udf.rows_in"] += _rows_into(nid, child, vals_of)
                    out["udf.rows"] += vals.get("number of output rows", 0.0)
                    out["udf.bytes_to_py"] += vals.get("data sent to Python workers", 0.0)
                    out["udf.bytes_from_py"] += vals.get(
                        "data returned from Python workers", 0.0
                    )
                elif name == "BroadcastExchange":
                    out["broadcast.bytes"] += vals.get("data size", 0.0)
                elif "Join" in name or name == "CartesianProduct":
                    out["join.rows"] += vals.get("number of output rows", 0.0)
        self._seen_exec = n
        return dict(out)

    # ------------------------------------------------------------ report

    def record(self, rec: dict) -> None:
        """Keep every numeric field of a span record as one sample."""
        for k, v in rec.items():
            if isinstance(v, (int, float)):
                self.add(k, v)

    def median(self, metric: str, default: float = 0.0) -> float:
        vals = self.samples.get(metric)
        return statistics.median(vals) if vals else default


ROW_METRICS = ("number of output rows", "shuffle records written")


def _rows_into(nid, child, vals_of) -> float:
    """Rows entering plan node `nid`: the first metric-carrying node found
    walking down each input edge (Sort/AQE read nodes carry none)."""
    total = 0.0
    for c in child.get(nid, []):
        frontier = [c]
        while frontier:
            n = frontier.pop()
            v = vals_of.get(n, {})
            hit = next((v[m] for m in ROW_METRICS if m in v), None)
            if hit is not None:
                total += hit
            else:
                frontier.extend(child.get(n, []))
    return total
