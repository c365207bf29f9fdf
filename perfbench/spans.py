"""Layer-by-layer tracing from outside the program.

Two sources, neither of which touches the package's code:

* spans: :meth:`Tracer.install` wraps every public function of the
  package's modules (and the public methods of ``SparkAutoSchema``) in a
  recorder, and patches every module attribute that referred to the
  original, so calls made through ``from .io import load_file`` are seen
  too.  A span holds its name, layer, start, end, parent span and op id.
* Spark's own status APIs: the DAG scheduler's next job id is read at every
  span boundary, so each job is attributed to the innermost span open when
  it was submitted (there is one client, so a time window is an exact
  attribution, and it also catches jobs fired by streaming query threads).
  After each op the status store gives each job's stages and their task
  metrics.

Everything is kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import re
import sys
import time
from dataclasses import dataclass, field

# package modules whose name is their layer's name in the metrics; every
# module under ops/ is the "ops" layer, and SparkAutoSchema is "core"
LAYER_MODULES = ("session", "io", "inference", "ddl", "diff", "catalog", "streaming")

_EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec")
# ArrowEvalPython, BatchEvalPython, MapInPandas, MapInArrow, FlatMapGroupsInPandas...
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
# the package's io writers
WRITE_FUNCS = ("io.write_", "io.compact_")


@dataclass
class Span:
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    job0: int
    end: float = 0.0
    job1: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder plus Spark counters, for one SparkSession."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op = -1
        self.stream_batches: list[tuple[float, float]] = []  # (time, duration ms)
        self._listener = None

    # ------------------------------------------------------------ spans
    def next_job(self) -> int:
        return int(self._dag.nextJobId())

    def open(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(
            Span(name, layer, self.op, parent, time.perf_counter(), self.next_job())
        )
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        s = self.spans[idx]
        s.job1 = self.next_job()
        s.end = time.perf_counter()
        while self._stack and self._stack[-1] != idx:
            self._stack.pop()  # a child that raised past its own close
        if self._stack:
            self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = self.open(name, layer)
        try:
            yield idx
        finally:
            self.close(idx)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        return wrapper

    # ----------------------------------------------------- installation
    def install(self) -> None:
        """Wrap the public functions of every package module, and the
        public methods of ``SparkAutoSchema``."""
        import spark_auto_schema as pkg

        mods = {
            n: m
            for n, m in list(sys.modules.items())
            if m is not None
            and (n == pkg.__name__ or n.startswith(pkg.__name__ + ".") or n == "__spark_entry__")
        }
        originals: dict[int, object] = {}
        for modname, mod in mods.items():
            rel = modname[len(pkg.__name__) + 1 :] if modname.startswith(pkg.__name__ + ".") else ""
            if rel in LAYER_MODULES:
                layer = rel
            elif rel.startswith("ops."):
                layer = "ops"
            else:
                continue
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(obj):
                    continue
                if obj.__module__ != modname:
                    continue  # imported, patched under its own module
                originals[id(obj)] = self._wrap(obj, f"{rel}.{attr}", layer)
        # patch every reference to an original, wherever it was imported
        for mod in mods.values():
            for attr, obj in list(vars(mod).items()):
                new = originals.get(id(obj))
                if new is not None:
                    self._patched.append((mod, attr, obj))
                    setattr(mod, attr, new)
        from spark_auto_schema.core import SparkAutoSchema

        for attr, obj in list(vars(SparkAutoSchema).items()):
            if attr.startswith("_") or not inspect.isfunction(obj):
                continue
            self._patched.append((SparkAutoSchema, attr, obj))
            setattr(SparkAutoSchema, attr, self._wrap(obj, f"core.{attr}", "core"))
        self._add_stream_listener()

    def uninstall(self) -> None:
        for owner, attr, obj in reversed(self._patched):
            setattr(owner, attr, obj)
        self._patched.clear()
        if self._listener is not None:
            try:
                self.spark.streams.removeListener(self._listener)
            except Exception:  # noqa: BLE001 - session may be stopping
                pass
            self._listener = None

    def _add_stream_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.stream_batches

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                dur = (p.durationMs or {}).get("triggerExecution", 0)
                if p.numInputRows or dur:
                    batches.append((time.perf_counter(), float(dur)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    # ------------------------------------------------- spark status data
    def drain_listener_bus(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so
        the status store and the streaming listener are up to date."""
        try:
            self._jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - private API; best effort
            time.sleep(0.05)

    def job_stats(self, job0: int, job1: int) -> dict[str, float]:
        """Stages, tasks and task metrics of the jobs with ids in
        ``[job0, job1)``.  A stage shared by two jobs counts once; stages
        skipped because their shuffle output was reused count as skipped."""
        tracker = self.spark.sparkContext.statusTracker()
        store = self._jsc.statusStore()
        seen: set[int] = set()
        out = dict.fromkeys(
            (
                "stages",
                "stages_skipped",
                "tasks",
                "executor_run_s",
                "executor_cpu_s",
                "gc_s",
                "shuffle_read_mb",
                "shuffle_write_mb",
                "spill_mb",
                "output_mb",
            ),
            0.0,
        )
        for jid in range(job0, job1):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - never-submitted stage
                    out["stages_skipped"] += 1
                    continue
                if st.status().toString() == "SKIPPED":
                    out["stages_skipped"] += 1
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (st.diskBytesSpilled() + st.memoryBytesSpilled()) / 2**20
                out["output_mb"] += st.outputBytes() / 2**20
        return out

    def write_mb(self, first_span: int) -> tuple[int, float]:
        """The number of outermost io writer calls among the spans from
        index ``first_span`` on, and the MB their jobs wrote."""
        calls, written = 0, 0.0
        for s in self.spans[first_span:]:
            if not s.name.startswith(WRITE_FUNCS):
                continue
            if s.parent is not None and self.spans[s.parent].name.startswith(WRITE_FUNCS):
                continue
            calls += 1
            written += self.job_stats(s.job0, s.job1)["output_mb"]
        return calls, written

    def plan_stats(self, df) -> dict[str, float]:
        """Exchanges and Python-worker nodes in the executed plan of ``df``
        (its final adaptive plan once an action ran), and the Catalyst
        phase times of its query execution.  A cached relation's plan
        counts once however many scans read it; a reused exchange does not
        count again."""
        qe = df._jdf.queryExecution()
        counts = {"exchanges": 0.0, "python_nodes": 0.0}
        identity = self.spark.sparkContext._jvm.System.identityHashCode
        seen: set[int] = set()
        todo = [qe.executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls in _EXCHANGES:
                counts["exchanges"] += 1
            elif _PYTHON_NODE.search(cls):
                counts["python_nodes"] += 1
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                todo.append(node.plan())
            elif cls == "InMemoryTableScanExec":
                cached = node.relation().cachedPlan()
                if identity(cached) not in seen:
                    seen.add(identity(cached))
                    todo.append(cached)
            elif cls != "ReusedExchangeExec":
                it = node.children().iterator()
                while it.hasNext():
                    todo.append(it.next())
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            counts[f"{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return counts

    def cache_state(self) -> tuple[int, float]:
        """Persisted RDD count and their storage memory in MB."""
        n = int(self.spark.sparkContext._jsc.getPersistentRDDs().size())
        mem = 0.0
        for info in self._jsc.getRDDStorageInfo():
            mem += info.memSize()
        return n, mem / 2**20

    # ------------------------------------------------------- aggregation
    def self_times(self) -> list[tuple[Span, float, int]]:
        """(span, self seconds, self jobs) for every closed span: its
        duration and job window minus what its child spans cover."""
        out = []
        for s in self.spans:
            kids = [self.spans[c] for c in s.children]
            t = s.dur - sum(k.dur for k in kids)
            j = (s.job1 - s.job0) - sum(k.job1 - k.job0 for k in kids)
            out.append((s, max(t, 0.0), j))
        return out
