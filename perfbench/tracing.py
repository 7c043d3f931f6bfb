"""Per-layer tracing for the engine benchmark, from outside the program.

Nothing in the engine is instrumented. Instead:

- ``install()`` wraps the public layer functions listed in ``TARGETS``
  and rebinds every module-level reference to them, so operator
  modules that did ``from ... import name`` call the wrapper. Each call
  records a span (name, start, end, parent) while tracing is on.
- ``Tracer.key_metrics()`` reads the Spark status store right after a
  key: jobs of the key's job group (plus the job groups of the
  streaming queries it started), their stages' task metrics, task
  skew from the stage task-time quantiles, and the Python-worker SQL
  metrics of the key's SQL executions. The store keeps only the last
  1000 jobs/stages/executions, so it is read per key, never at the end.
- A ``StreamingQueryListener`` counts micro-batches and maps streaming
  run ids to the key that started them.
"""

from __future__ import annotations

import functools
import importlib
import re
import sys
import time
from dataclasses import dataclass, field

#: (module, attribute, span name) of every wrapped layer function
TARGETS = (
    ("parquet_to_hyper_app_spark.catalog", "load_table", "catalog.load_table"),
    ("parquet_to_hyper_app_spark.sources.scanwidth", "scan_spread", "scanwidth.scan_spread"),
    ("parquet_to_hyper_app_spark.sources.convert", "convert", "convert.convert"),
    ("parquet_to_hyper_app_spark.operators.llm.dedup", "connected_components",
     "dedup.connected_components"),
    ("parquet_to_hyper_app_spark.operators.llm.dedup", "ngram_jaccard_pairs",
     "dedup.ngram_jaccard_pairs"),
    ("parquet_to_hyper_app_spark.operators.llm.corpus", "containment_frame",
     "corpus.containment_frame"),
    ("parquet_to_hyper_app_spark.streaming.source", "run_to_memory", "streaming.run_to_memory"),
)

PACKAGE = "parquet_to_hyper_app_spark"

#: SQL metric name (as Spark labels it) -> benchmark metric
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python.worker_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "time to initialize Python workers": "python.init_s",
}
_UNITS = {
    "ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    key: str
    extra: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.key = ""
        self.spark = None
        #: streaming run id -> key that started it
        self.stream_runs: dict[str, str] = {}
        self.batches: dict[str, int] = {}
        self._last_execution = -1
        #: id(original function) -> (original, wrapper)
        self._wrappers: dict[int, tuple] = {}

    # ---- spans ----------------------------------------------------
    def open(self, name: str, **extra) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.key, extra))
        self._stack.append(idx)
        return idx

    def reset(self) -> None:
        """Drop open spans after a key raised."""
        self.enabled = False
        self._stack.clear()

    def close(self, idx: int, **extra) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.extra.update(extra)
        self._stack.pop()

    def wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            jobs0 = tracer._group_jobs() if name == "dedup.connected_components" else 0
            idx = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                tracer.close(idx, error=True)
                raise
            extra = {}
            if name == "scanwidth.scan_spread":
                extra["widened"] = out is not args[0]
            if name == "dedup.connected_components":
                extra["jobs"] = tracer._group_jobs() - jobs0
            tracer.close(idx, **extra)
            return out

        return functools.wraps(fn)(traced)

    def _group_jobs(self) -> int:
        self.drain()
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self.key))

    def install(self) -> None:
        """Wrap TARGETS and rebind every loaded package module's
        reference to an original. Call before ``registry.load_all()``
        and again after it (the sweep catches late imports)."""
        if not self._wrappers:
            for mod_name, attr, span in TARGETS:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                self._wrappers[id(orig)] = (orig, self.wrap(orig, span))
        for name, mod in list(sys.modules.items()):
            if not (name == PACKAGE or name.startswith(PACKAGE + ".")) or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                hit = self._wrappers.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, attr, hit[1])

    # ---- streaming ------------------------------------------------
    def add_stream_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer.stream_runs[str(event.runId)] = tracer.key

            def onQueryProgress(self, event):
                key = tracer.stream_runs.get(str(event.progress.runId), tracer.key)
                tracer.batches[key] = tracer.batches.get(key, 0) + 1

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    # ---- status store ---------------------------------------------
    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store holds the finished key's jobs and stages."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def key_metrics(self, key: str) -> dict[str, float]:
        """Spark counters of the key that just ran under job group ``key``."""
        self.drain()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        groups = [key] + [run for run, k in self.stream_runs.items() if k == key]
        job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        gw = sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        to_java = gw.jvm.scala.jdk.javaapi.CollectionConverters.asJava
        m = dict.fromkeys(
            ("spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s", "spark.input_bytes",
             "spark.output_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
             "spark.spill_bytes", "skew_max_s", "skew_med_s"),
            0.0,
        )
        m["spark.jobs"] = float(len(job_ids))
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted or never submitted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            n = st.numCompleteTasks()
            m["spark.stages"] += 1
            m["spark.tasks"] += n
            m["spark.task_s"] += st.executorRunTime() / 1e3
            m["spark.gc_s"] += st.jvmGcTime() / 1e3
            m["spark.input_bytes"] += st.inputBytes()
            m["spark.output_bytes"] += st.outputBytes()
            m["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            m["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if n >= 2:
                summary = store.taskSummary(sid, st.attemptId(), quantiles)
                if summary.isDefined():
                    med, top = list(to_java(summary.get().executorRunTime()))
                    m["skew_med_s"] += med / 1e3
                    m["skew_max_s"] += top / 1e3
        m.update(self._python_metrics())
        m["streaming.batches"] = float(self.batches.get(key, 0))
        return m

    def _python_metrics(self) -> dict[str, float]:
        """Python-worker SQL metrics of the executions since the last call."""
        out = dict.fromkeys(list(PYTHON_SQL_METRICS.values()) + ["python.rows_out"], 0.0)
        sq = self.spark._jsparkSession.sharedState().statusStore()
        to_java = self.spark.sparkContext._gateway.jvm.scala.jdk.javaapi.CollectionConverters.asJava
        eid = self._last_execution + 1
        while True:
            opt = sq.execution(eid)
            if not opt.isDefined():
                break
            self._last_execution = eid
            plan = opt.get().physicalPlanDescription()
            if "Python" in plan or "Pandas" in plan or "Arrow" in plan:
                values = to_java(sq.executionMetrics(eid))
                for node in to_java(sq.planGraph(eid).allNodes()):
                    named = {pm.name(): pm.accumulatorId() for pm in to_java(node.metrics())}
                    if "time to run Python workers" not in named:
                        continue
                    for label, metric in PYTHON_SQL_METRICS.items():
                        if label in named:
                            out[metric] += _parse_metric(values.get(named[label]))
                    if "number of output rows" in named:
                        out["python.rows_out"] += _parse_metric(values.get(named["number of output rows"]))
            eid += 1
        return out

    def skip_executions(self) -> None:
        """Mark every SQL execution so far as seen (untraced work)."""
        sq = self.spark._jsparkSession.sharedState().statusStore()
        while sq.execution(self._last_execution + 1).isDefined():
            self._last_execution += 1

    def span_totals(self, indices: range) -> dict[str, list[float]]:
        """name -> durations of the outermost spans of that name among
        the given span indices (a nested same-name call is not counted twice)."""
        out: dict[str, list[float]] = {}
        for i in indices:
            s = self.spans[i]
            p, nested = s.parent, False
            while p is not None:
                if self.spans[p].name == s.name:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                out.setdefault(s.name, []).append(s.end - s.start)
        return out


def _parse_metric(text) -> float:
    """Spark's formatted SQL metric ('1,234', '882 ms', '2.1 MiB', or
    'total (min, med, max ...)\\n2.1 MiB (...)') -> number in base units."""
    if text is None:
        return 0.0
    line = str(text).split("\n")[-1]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-zµ]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)
