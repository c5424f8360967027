"""Per-layer tracing, done entirely from outside the program.

A traced run wraps the public entry points of the program's modules (and
PySpark's ``collect``/``toPandas``) with span recorders, tags every timed
operation with its own Spark job group, and after each operation reads
Spark's own counters from the driver: jobs, stages and tasks from the
status store, Catalyst phase times from ``queryExecution().tracker()``
and SQL metrics from the adaptive plan's final physical plan. Spans stay
in memory and are written once, when the run ends.

An untraced run never patches anything; its :class:`Tracer` hands out
no-op context managers.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field

#: (module, "Class.method" or "function", span name) wrapped in traced runs.
#: Calls the benchmark makes itself are wrapped at the call site instead.
PATCHES = (
    ("signalk_parquet_spark.sources.lake", "Lake.read", "sources.lake_read"),
    ("signalk_parquet_spark.sources.lake", "Lake.write_records", "sources.write_records"),
    ("signalk_parquet_spark.sources.lake", "Lake.write_rollup", "sources.write_rollup"),
    ("signalk_parquet_spark.sources.buffer", "HotBuffer.read", "sources.buffer_read"),
    ("signalk_parquet_spark.sources.buffer", "HotBuffer.append", "sources.buffer_append"),
    ("signalk_parquet_spark.sources.buffer", "HotBuffer.export_day", "sources.export_day"),
    ("signalk_parquet_spark.sources.buffer", "HotBuffer.retention_cleanup",
     "sources.buffer_retention"),
    ("signalk_parquet_spark.plans.history", "HistoryPlanner.get_values", "plans.get_values"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "exec.collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame.toPandas", "exec.collect"),
)

#: spans whose return value is the DataFrame the operation collects
CAPTURE = {"plans.get_values"}
#: spans after which written parquet files are counted
WRITES = {"sources.write_records", "sources.write_rollup", "sources.buffer_append",
          "sources.buffer_retention"}
_QUERY_STAGES = ("ShuffleQueryStageExec", "BroadcastQueryStageExec",
                 "TableCacheQueryStageExec", "ResultQueryStageExec")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class OpCounters:
    """Spark's counters for one timed operation."""

    op: int
    kind: str
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_spans: list = field(default_factory=list)  # [(submit_s, complete_s)]
    catalyst: dict = field(default_factory=dict)  # phase -> ms
    plan: dict = field(default_factory=dict)  # summed SQL metrics
    plans: int = 0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[OpCounters] = []
        self.write_roots: list[str] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._captured: list = []
        self._undo: list = []
        self.bookkeeping_s = 0.0  # time spent reading counters

    # --- spans -------------------------------------------------------------
    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, attrs: dict):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        before = self._files() if name in WRITES else None
        sp = Span(name, time.time(), 0.0, parent, self._op, attrs)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if before is not None:
                after = self._files()
                new = {k: v for k, v in after.items() if before.get(k) != v}
                sp.attrs["files_written"] = len(new)
                sp.attrs["bytes_written"] = sum(v[0] for v in new.values())

    def _files(self) -> dict[str, tuple[int, int]]:
        out = {}
        for root in self.write_roots:
            for d, _, files in os.walk(root):
                for f in files:
                    if f.endswith(".parquet"):
                        st = os.stat(os.path.join(d, f))
                        out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
        return out

    def _open(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    # --- patching ----------------------------------------------------------
    def install(self) -> None:
        """Wrap :data:`PATCHES` (traced runs only)."""
        if not self.enabled:
            return
        for mod_name, attr, name in PATCHES:
            mod = importlib.import_module(mod_name)
            owner_name, _, fn_name = attr.rpartition(".")
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = owner.__dict__[fn_name]
            setattr(owner, fn_name, self._wrap(orig, name))
            self._undo.append((owner, fn_name, orig))

    def uninstall(self) -> None:
        for owner, fn_name, orig in reversed(self._undo):
            setattr(owner, fn_name, orig)
        self._undo.clear()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            if tracer._op is None and name == "exec.collect":
                return fn(*args, **kw)
            if tracer._open(name):  # e.g. toPandas falling back to collect
                return fn(*args, **kw)
            attrs = {k: kw[k] for k in ("tier", "path") if isinstance(kw.get(k), str)}
            with tracer._span(name, attrs):
                out = fn(*args, **kw)
            if name in CAPTURE and tracer._op is not None:
                tracer._captured.append(out)
            return out

        return wrapper

    # --- operations --------------------------------------------------------
    def op(self, kind: str):
        return self._op_ctx(kind) if self.enabled else nullcontext()

    @contextmanager
    def _op_ctx(self, kind: str):
        sc = self.spark.sparkContext
        op_id = len(self.ops)
        self._op = op_id
        self._captured = []
        sc.setJobGroup(f"perfbench-op-{op_id}", kind, False)
        ok = False
        try:
            with self._span(f"op.{kind}", {}):
                yield self
            ok = True
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._op = None
            t0 = time.perf_counter()
            self.ops.append(self._counters(op_id, kind, self._captured if ok else []))
            self._captured = []
            self.bookkeeping_s += time.perf_counter() - t0

    def capture(self, df) -> None:
        """Record ``df`` as a DataFrame the current operation collects."""
        if self.enabled and self._op is not None:
            self._captured.append(df)

    def _counters(self, op_id: int, kind: str, dfs: list) -> OpCounters:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        rec = OpCounters(op_id, kind)
        for jid in sc.statusTracker().getJobIdsForGroup(f"perfbench-op-{op_id}"):
            jd = store.job(jid)
            rec.jobs += 1
            rec.stages += jd.stageIds().size() - jd.numSkippedStages()
            rec.tasks += jd.numCompletedTasks()
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                rec.job_spans.append((sub.get().getTime() / 1000.0,
                                      comp.get().getTime() / 1000.0))
        for df in dfs:
            qe = df._jdf.queryExecution()
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                rec.catalyst[kv._1()] = rec.catalyst.get(kv._1(), 0.0) + kv._2().durationMs()
            plan = qe.executedPlan()
            if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                plan = plan.finalPhysicalPlan()
            _plan_metrics(plan, rec.plan, top=True)
            rec.plans += 1
        return rec

    # --- output ------------------------------------------------------------
    def dump(self, path: str, extra: dict) -> None:
        """Write every span and counter once, at the end of the run."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "ops": [asdict(o) for o in self.ops], **extra}, fh)


def _plan_metrics(node, acc: dict, top: bool = False) -> None:
    """Sum the SQL metrics the per-layer report uses over a physical plan,
    descending into adaptive query stages."""
    name = node.nodeName()
    cls = node.getClass().getSimpleName()
    m = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m[kv._1()] = kv._2().value()
    if top and "output_rows" not in acc and "numOutputRows" in m:
        acc["output_rows"] = m["numOutputRows"]
        top = False
    if name.startswith("Scan ") and "numFiles" in m:
        acc["files_scanned"] = acc.get("files_scanned", 0) + m["numFiles"]
        acc["bytes_scanned"] = acc.get("bytes_scanned", 0) + m.get("filesSize", 0)
        acc["partitions_scanned"] = acc.get("partitions_scanned", 0) + m.get("numPartitions", 0)
        acc["listing_ms"] = (acc.get("listing_ms", 0) + m.get("metadataTime", 0)
                             + m.get("pruningTime", 0))
    if "shuffleBytesWritten" in m:
        acc["shuffle_bytes"] = acc.get("shuffle_bytes", 0) + m["shuffleBytesWritten"]
    if "spillSize" in m:
        acc["spill_bytes"] = acc.get("spill_bytes", 0) + m["spillSize"]
    if "pythonTotalTime" in m:
        acc["python_eval_ms"] = acc.get("python_eval_ms", 0) + m["pythonTotalTime"]
    if cls in _QUERY_STAGES:
        _plan_metrics(node.plan(), acc, top)
    ch = node.children().iterator()
    while ch.hasNext():
        _plan_metrics(ch.next(), acc, top)
