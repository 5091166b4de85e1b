"""Tracing for the ``--trace 1`` run: everything here reads the engine
from outside, through Spark's status APIs and one wrapper.

- job groups per operation, read back through ``statusTracker``;
- SQL metrics of the executed plans, read from the SQL status store
  after each action;
- ``DataFrame.localCheckpoint`` wrapped to count and time
  materializations;
- streaming ``recentProgress`` flattened per micro-batch.

The untraced run imports none of this.
"""

from __future__ import annotations

import re
import statistics
import time
import types

#: status-store SQL metric name → per-layer accumulator key
SQL_METRICS = {
    "shuffle bytes written": "queries.shuffle_bytes",
    "shuffle write time": "queries.shuffle_write_ms",
    "fetch wait time": "queries.fetch_wait_ms",
    "spill size": "queries.spill_bytes",
    "time to start Python workers": "fastdaemon.worker_start_ms",
    "time to initialize Python workers": "fastdaemon.worker_init_ms",
    "time to run Python workers": "operators.python_run_ms",
    "data sent to Python workers": "operators.python_bytes_out",
    "data returned from Python workers": "operators.python_bytes_in",
}

#: every per-layer metric with its unit; a workload reports 0 for a
#: layer it does not exercise (no micro-batches on a batch workload)
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "queries.build_ms": "ms",
    "queries.jobs": "count",
    "queries.tasks": "count",
    "queries.shuffle_bytes": "bytes",
    "queries.shuffle_write_ms": "ms",
    "queries.fetch_wait_ms": "ms",
    "queries.spill_bytes": "bytes",
    "operators.runtime.materializations": "count",
    "operators.runtime.materialize_ms": "ms",
    "fastdaemon.worker_start_ms": "ms",
    "fastdaemon.worker_init_ms": "ms",
    "operators.python_run_ms": "ms",
    "operators.python_bytes_out": "bytes",
    "operators.python_bytes_in": "bytes",
    "operators.cep.ms": "ms",
    "operators.match_recognize.ms": "ms",
    "operators.dedup.ms": "ms",
    "operators.similarity.ms": "ms",
    "operators.text.ms": "ms",
    "pipelines.curate.ms": "ms",
    "streaming.dispatch.start_ms": "ms",
    "streaming.batches": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.ops.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "sources.offsets_ms": "ms",
    "streaming.ops.state_rows": "count",
    "streaming.ops.state_bytes": "bytes",
    "streaming.ops.state_commit_ms": "ms",
    "streaming.busy_share": "share",
}

_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_NUM = re.compile(r"^(-?[0-9][0-9.,]*)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value. Multi-task metrics read
    ``total (min, med, max ...)\\n<total> (<min>, ...)``; single-task
    ones are just ``<total>``. Timings come back in ms, sizes in
    bytes, sums as counts."""
    last = text.strip().splitlines()[-1]
    m = _NUM.match(last)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SqlMetrics:
    """Sums the tracked SQL metrics over executions that started after
    the last :meth:`take`."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._store.executionsCount()

    def take(self) -> dict[str, float]:
        # the SQL listener aggregates metrics asynchronously at
        # execution end; drain the bus so the last action is in
        self._jsc.listenerBus().waitUntilEmpty()
        total = dict.fromkeys(SQL_METRICS.values(), 0.0)
        n = self._store.executionsCount()
        if n > self._seen:
            execs = self._store.executionsList(self._seen, n - self._seen)
            it = execs.iterator()
            while it.hasNext():
                e = it.next()
                values = self._store.executionMetrics(e.executionId())
                mit = e.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    key = SQL_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total[key] += parse_metric(v.get())
        self._seen = n
        return total


class Tracer:
    """Per-operation tracing for the batch passes: a job group per
    execution, the SQL metrics and materializations it caused, and the
    time of the rows backed by each tracked module."""

    def __init__(self, spark):
        self.spark = spark
        self.sql = SqlMetrics(spark)
        self.ckpt = CheckpointCounter(spark)
        self.group = ""

    def modules_of(self, fn) -> set[str]:
        return backing_modules(fn)

    def begin_op(self, group: str) -> None:
        self.group = group
        self.spark.sparkContext.setJobGroup(group, group)
        self.sql.take()
        self.ckpt.take()

    def end_op(self, layer: dict, op_s: float, build_s: float,
               modules: set[str]) -> None:
        def add(k, v):
            layer[k] = layer.get(k, 0.0) + v

        for k, v in self.sql.take().items():
            add(k, v)
        jobs, tasks = jobs_and_tasks(self.spark, self.group)
        add("queries.jobs", jobs)
        add("queries.tasks", tasks)
        add("queries.build_ms", build_s * 1e3)
        n, ms = self.ckpt.take()
        add("operators.runtime.materializations", n)
        add("operators.runtime.materialize_ms", ms)
        for mod in modules:
            add(MODULES[mod], op_s * 1e3)

    def close(self) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.ckpt.close()


def jobs_and_tasks(spark, group: str) -> tuple[int, int]:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


class CheckpointCounter:
    """Wraps ``DataFrame.localCheckpoint`` on the session's DataFrame
    class: counts calls and sums their wall time (an eager checkpoint
    runs its job inside the call; a lazy one only marks the plan)."""

    def __init__(self, spark):
        self.cls = type(spark.range(1))
        self.orig = self.cls.localCheckpoint
        self.count = 0
        self.ms = 0.0
        counter = self
        orig = self.orig

        def wrapped(df, *a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(df, *a, **kw)
            finally:
                counter.count += 1
                counter.ms += (time.perf_counter() - t0) * 1e3

        self.cls.localCheckpoint = wrapped

    def take(self) -> tuple[int, float]:
        out = (self.count, self.ms)
        self.count, self.ms = 0, 0.0
        return out

    def close(self) -> None:
        self.cls.localCheckpoint = self.orig


#: per-module attribution roots: a query row is "backed by" a module
#: when its plan-construction code reaches one of these
MODULES = {
    "flink_note_spark.operators.cep": "operators.cep.ms",
    "flink_note_spark.operators.match_recognize": "operators.match_recognize.ms",
    "flink_note_spark.operators.dedup": "operators.dedup.ms",
    "flink_note_spark.operators.similarity": "operators.similarity.ms",
    "flink_note_spark.operators.text": "operators.text.ms",
    "flink_note_spark.pipelines.curate": "pipelines.curate.ms",
}


def backing_modules(fn) -> set[str]:
    """Which :data:`MODULES` a query function reaches, read from its
    code objects: names imported inside the body (``from <mod> import``
    puts ``<mod>`` in ``co_names``), module-level globals whose
    ``__module__`` is a tracked module, and helper functions of the
    query modules, followed transitively."""
    found: set[str] = set()
    seen: set[int] = set()

    def visit_code(code, g):
        for name in code.co_names:
            if name in MODULES:
                found.add(name)
            obj = g.get(name)
            if obj is not None:
                visit_obj(obj)
        for c in code.co_consts:
            if isinstance(c, types.CodeType):
                visit_code(c, g)

    def visit_obj(obj):
        mod = getattr(obj, "__module__", None) or ""
        if mod in MODULES:
            found.add(mod)
            return
        if (
            isinstance(obj, types.FunctionType)
            and mod.startswith("flink_note_spark.queries")
            and id(obj) not in seen
        ):
            seen.add(id(obj))
            visit_code(obj.__code__, obj.__globals__)

    visit_obj(fn)
    return found


# ---------------------------------------------------------------------------
# streaming progress


def _ms(p: dict, key: str) -> float:
    return float((p.get("durationMs") or {}).get(key, 0) or 0)


def flatten_progress(p: dict) -> dict:
    """One micro-batch's ``StreamingQueryProgress`` as flat numbers."""
    state = p.get("stateOperators") or []
    return {
        "batch": int(p["batchId"]),
        "rows": int(p.get("numInputRows") or 0),
        "trigger_ms": _ms(p, "triggerExecution"),
        "add_batch_ms": _ms(p, "addBatch"),
        "planning_ms": _ms(p, "queryPlanning"),
        "commit_ms": _ms(p, "walCommit") + _ms(p, "commitOffsets"),
        "offsets_ms": _ms(p, "latestOffset") + _ms(p, "getBatch"),
        "state_rows": sum(int(s.get("numRowsTotal") or 0) for s in state),
        "state_bytes": sum(int(s.get("memoryUsedBytes") or 0) for s in state),
        "state_commit_ms": sum(float(s.get("commitTimeMs") or 0) for s in state),
    }


def stream_layers(batches: list[dict], open_batches: list[dict],
                  open_wall_s: float) -> dict[str, float]:
    """Per-layer streaming metrics: medians per micro-batch over all
    batches of the measured stream, the largest state over the open-loop
    batches (the post-sentinel batches have already evicted it), and the
    open-loop busy share."""

    def med(key: str) -> float:
        vals = [b[key] for b in batches]
        return float(statistics.median(vals)) if vals else 0.0

    def peak(key: str) -> float:
        return float(max((b[key] for b in open_batches), default=0))

    busy = sum(b["trigger_ms"] for b in open_batches) / 1e3
    return {
        "streaming.batches": float(len(batches)),
        "streaming.trigger_ms_p50": med("trigger_ms"),
        "streaming.ops.add_batch_ms": med("add_batch_ms"),
        "streaming.planning_ms": med("planning_ms"),
        "streaming.commit_ms": med("commit_ms"),
        "sources.offsets_ms": med("offsets_ms"),
        "streaming.ops.state_rows": peak("state_rows"),
        "streaming.ops.state_bytes": peak("state_bytes"),
        "streaming.ops.state_commit_ms": med("state_commit_ms"),
        "streaming.busy_share": busy / open_wall_s if open_wall_s > 0 else 0.0,
    }
