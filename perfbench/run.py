"""Engine benchmark: named workloads, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Load model: a closed loop with one client. One Python process runs a
local Spark session on every available core (``local[nproc]``) and
executes the workload's registry keys one after another. Before each
key it calls ``clearCache()``; each result is forced with the ``noop``
sink, as ``bench.py`` does. ``--seed`` shuffles the key order of every
pass and, for ``ingest``, permutes the rows of the part-file layout.

A run:

1. generates the inputs (not timed): base tables from a fixed seed,
   cached under ``.perfbench_work/``, plus the seeded ingest layout;
2. set-up (``setup_s``): ``registry.load_all()``, ``build_session()``
   and one warm pass. The warm pass is the output check: every key's
   result is collected and compared with the DuckDB oracle
   (``check.py``); the comparison itself is not counted;
3. ``warmup`` untimed passes (``WORKLOADS``): pass times fall steeply
   over the first passes while the JVM compiles the engine's code;
4. timed passes until ``--seconds`` have elapsed, and at least
   ``passes`` of them. Each metric is a median over these passes.

The gated pass metric is ``pass_cpu_s``: CPU seconds of the engine's
processes (this Python driver, the driver JVM, the Python workers) per
pass, without the JVM's JIT compiler threads (``jvm.jit_cpu_s``), whose
work is warm-up that is still going on in the timed passes. CPU time
does not count time the hypervisor gave to other guests. On a shared
virtual machine that steal makes wall time move by up to half a pass
from run to run, so the wall-clock figures (``pass_s``,
``query_p50_s``, ``query_tail_s``) are reported with the per-layer
metrics, without a bound.

With ``--trace 1`` untraced passes alternate with traced passes that
record spans around the engine's layer functions and read Spark's
status store per key (``tracing.py``); the per-layer metrics come from
the traced passes and the tracing overhead is the traced pass median
minus the untraced one.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
``failed`` counts executions that raised or failed the output check;
``failed / attempted`` is the failure fraction.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: scale factor of the generated tables (lineitem = 6M x SF rows)
SF = 0.01

CLOCK_TICKS = os.sysconf("SC_CLK_TCK")

WORKLOADS = {
    # relational queries plus the lineitem parquet -> typed-sink
    # conversion and a stream-static join, on single-row-group files:
    # query planning and the scan_spread widening gate dominate; one disk
    # write and one micro-batch, no Python boundary
    "analytics": dict(
        layout="base",
        keys=[
            "tpch_q1", "tpch_q18", "join_asof", "events_funnel", "convert_sink",
            "stream_static_join",
        ],
        warmup=2,
        passes=3,
    ),
    # near-dup miners and the pandas boundary: shuffle-heavy self-joins,
    # iterative connected components, eager checkpoints
    "curation": dict(
        layout="base",
        keys=["dedup_clusters", "dedup_containment", "udf_grouped_map"],
        warmup=1,
        passes=2,
    ),
    # parquet -> clean -> typed sink (two schemas), a range-clustered
    # sink and a stream-static join over a seeded part-file layout,
    # where the scan_spread gate is identity. Not in BENCHMARK.json
    # (run budget); run by hand and by the self-test.
    "ingest": dict(
        layout="ingest",
        keys=["convert_sink", "convert_sink_events", "sink_range_clustered", "stream_static_join"],
        warmup=2,
        passes=5,
    ),
}

#: sink directory (under the private TMPDIR) -> source table, per ingest key
SINKS = {
    "convert_sink": ("parquet_to_hyper_app_spark_sink/lineitem", "lineitem"),
    "convert_sink_events": ("parquet_to_hyper_app_spark_sink/events", "events"),
    "sink_range_clustered": ("p2h_spark_part/range_clustered", "lineitem"),
}

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "live_heap_mb": "MB",
}

PER_LAYER = {
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "jvm.jit_cpu_s": "s",
    "session.build_s": "s",
    "registry.load_all_s": "s",
    "query.plan_s": "s",
    "query.exec_s": "s",
    "query.tail_pct": "%",
    "query.samples": "count",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "scanwidth.scan_spread_calls": "count",
    "scanwidth.scan_spread_s": "s",
    "scanwidth.widen_ratio": "ratio",
    "dedup.connected_components_s": "s",
    "dedup.connected_components_jobs": "count",
    "dedup.ngram_jaccard_pairs_s": "s",
    "corpus.containment_frame_s": "s",
    "python.worker_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.rows_out": "count",
    "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "convert.convert_s": "s",
    "streaming.run_to_memory_s": "s",
    "streaming.batches": "count",
    "sink.stored_bytes_per_input_byte": "ratio",
    "jvm.peak_rss_mb": "MB",
    "spark.output_bytes": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.input_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_skew": "ratio",
    "spark.core_busy_frac": "ratio",
    "trace.traced_pass_s": "s",
    "trace.overhead_s": "s",
    "trace.accounted_frac": "ratio",
}

#: span name -> per-layer time metric
SPAN_TIMES = {
    "query.plan": "query.plan_s",
    "query.exec": "query.exec_s",
    "catalog.load_table": "catalog.load_table_s",
    "scanwidth.scan_spread": "scanwidth.scan_spread_s",
    "dedup.connected_components": "dedup.connected_components_s",
    "dedup.ngram_jaccard_pairs": "dedup.ngram_jaccard_pairs_s",
    "corpus.containment_frame": "corpus.containment_frame_s",
    "convert.convert": "convert.convert_s",
    "streaming.run_to_memory": "streaming.run_to_memory_s",
}

#: Spark counters summed over a pass (the rest are derived)
SPARK_SUMS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s",
    "spark.input_bytes", "spark.output_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "python.worker_s", "python.boot_s",
    "python.init_s", "python.rows_out", "python.bytes_sent", "python.bytes_received",
    "streaming.batches",
)

#: the two streaming loggers bench.py silences (per-query-start noise)
QUIET_LOGGERS = (
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
)


def base_data_dir(root: str, sf: float) -> str:
    """The fixed-seed single-file tables (generated once per checkout)."""
    from gen import write_base

    base = os.path.join(root, ".perfbench_work", "data", f"base-sf{sf}")
    write_base(base, sf)
    return base


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least 10
    samples beyond it. With fewer than 20 samples no percentile at or
    above the median has 10 beyond it; the tail is then the maximum."""
    xs = sorted(samples)
    rank = len(xs) - 10 if len(xs) >= 20 else len(xs)
    return xs[rank - 1], 100.0 * rank / len(xs)


def dir_bytes(path: str) -> int:
    """Bytes of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of ``root`` and every process below it:
    the driver JVM and the Python workers, plus the time of descendants
    that have exited and been reaped (their parent's cutime/cstime).
    Time the hypervisor gave to other guests (steal) is not in it."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        cpu[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / CLOCK_TICKS


def jit_cpu_s(jvm: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads ("C1/C2 CompilerThread").
    Their work is warm-up that decays towards zero as the engine's code
    gets compiled; it is not work a query asks for. The JVM runs with
    -XX:-UseDynamicNumberOfCompilerThreads, so these threads never exit
    and their time never moves into the process total unseen."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:13])
    return total / CLOCK_TICKS


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def private_env(run_dir: str) -> None:
    """Confine every temp path of this process, the JVM and the Python
    workers to ``run_dir``; make the package importable by the workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the driver heap is the program's own setting (build_session);
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*;
    # fixed compiler threads: see jit_cpu_s
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        (
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf 'spark.driver.extraJavaOptions={java_opts}'",
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "pyspark-shell",
        )
    )
    os.chdir(run_dir)  # derby.log, metastore_db


class Runner:
    def __init__(self, workload: str, seed: int, data_dir: str, trace: bool) -> None:
        self.keys = WORKLOADS[workload]["keys"]
        self.min_passes = WORKLOADS[workload]["passes"]
        self.rng = random.Random(seed)
        self.data_dir = data_dir
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = None
        self.pid = os.getpid()
        self.spark = None
        self.specs = None
        if trace:
            from tracing import Tracer

            self.tracer = Tracer()

    # ---- set-up ---------------------------------------------------
    def setup(self, checker) -> dict[str, float]:
        """load_all + build_session + one warm pass. The warm pass is the
        output check: every result is collected and compared with the
        oracle, and the comparison's time is not set-up time."""
        t0 = time.perf_counter()
        if self.tracer is not None:
            self.tracer.install()  # before load_all: modules bind names at import
        from parquet_to_hyper_app_spark.registry import load_all
        from parquet_to_hyper_app_spark.session import build_session

        self.specs = load_all()
        t1 = time.perf_counter()
        self.spark = build_session("perfbench")
        t2 = time.perf_counter()
        self.jvm = self.jvm_pid()
        jvm = self.spark.sparkContext._jvm
        for logger in QUIET_LOGGERS:
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                logger, jvm.org.apache.logging.log4j.Level.ERROR
            )
        if self.tracer is not None:
            self.tracer.install()  # sweep references bound during load_all
            self.tracer.spark = self.spark
        self.checked = self.pass_(checker=checker)
        t3 = time.perf_counter()
        return {
            "setup_s": t3 - t0 - checker.check_s,
            "registry.load_all_s": t1 - t0,
            "session.build_s": t2 - t1,
        }

    # ---- passes ---------------------------------------------------
    def pass_(self, order=None, checker=None, traced: bool = False):
        """Run every key once; returns [(key, latency_s, key_metrics)].
        With ``checker`` each result is collected and checked instead of
        written to the noop sink."""
        out = []
        for key in order or self.keys:
            self.spark.catalog.clearCache()
            self.attempted += 1
            m: dict[str, float] = {}
            try:
                t0 = time.perf_counter()
                if traced:
                    lat, m = self._traced_key(key)
                elif checker is not None:
                    pdf = self.specs[key].fn(self.spark, self.data_dir).toPandas()
                    lat = time.perf_counter() - t0
                    errs = checker.check(self.specs[key], pdf)
                    if errs:
                        self.failed += 1
                        self.errors.append(f"{key}: " + "; ".join(errs))
                else:
                    self.specs[key].fn(self.spark, self.data_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    lat = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 - a failing key is a counted failure
                self.failed += 1
                self.errors.append(f"{key}: {type(e).__name__}: {str(e)[:300]}")
                if self.tracer is not None:
                    self.tracer.reset()
                continue
            out.append((key, lat, m))
        return out

    def _traced_key(self, key: str) -> tuple[float, dict[str, float]]:
        """(latency_s, Spark counters) of one key under its own job group."""
        tr, sc = self.tracer, self.spark.sparkContext
        group = f"{key}#{len(tr.spans)}"
        tr.key = group
        sc.setJobGroup(group, key)
        tr.enabled = True
        top = tr.open("query", key=key)
        idx = tr.open("query.plan")
        df = self.specs[key].fn(self.spark, self.data_dir)
        tr.close(idx)
        idx = tr.open("query.exec")
        df.write.format("noop").mode("overwrite").save()
        tr.close(idx)
        tr.close(top)
        tr.enabled = False
        sc.setLocalProperty("spark.jobGroup.id", None)
        span = tr.spans[top]
        return span.end - span.start, tr.key_metrics(group)

    def timed(self, seconds: float, min_passes: int, traced: bool = False) -> list[tuple]:
        """Passes in seeded key order until ``seconds`` have elapsed and at
        least ``min_passes`` ran: [(wall_s, engine cpu_s, jit cpu_s, rows,
        index of the pass's first span)]."""
        passes = []
        start = time.perf_counter()
        while len(passes) < min_passes or time.perf_counter() - start < seconds:
            order = list(self.keys)
            self.rng.shuffle(order)
            first_span = len(self.tracer.spans) if self.tracer else 0
            cpu0 = self.cpu_s()
            t0 = time.perf_counter()
            rows = self.pass_(order, traced=traced)
            wall = time.perf_counter() - t0
            cpu = [b - a for a, b in zip(cpu0, self.cpu_s())]
            passes.append((wall, *cpu, rows, first_span))
        return passes

    # ---- metrics --------------------------------------------------
    def layer_metrics(self, traced: list[tuple]) -> dict[str, float]:
        """Per-layer metrics of each traced pass; the median over passes."""
        per_pass = []
        cores = self.spark.sparkContext.defaultParallelism
        bounds = [p[4] for p in traced] + [len(self.tracer.spans)]
        for i, (_wall, _cpu, _jit, rows, _first) in enumerate(traced):
            idx = range(bounds[i], bounds[i + 1])
            spans = [self.tracer.spans[j] for j in idx]
            times = self.tracer.span_totals(idx)
            m = {metric: sum(times.get(name, [])) for name, metric in SPAN_TIMES.items()}
            for name in SPARK_SUMS:
                m[name] = sum(r[2].get(name, 0.0) for r in rows)
            spread = [s for s in spans if s.name == "scanwidth.scan_spread"]
            m["catalog.load_table_calls"] = sum(s.name == "catalog.load_table" for s in spans)
            m["scanwidth.scan_spread_calls"] = len(spread)
            m["scanwidth.widen_ratio"] = (
                sum(s.extra["widened"] for s in spread) / len(spread) if spread else 0.0
            )
            m["dedup.connected_components_jobs"] = sum(
                s.extra.get("jobs", 0) for s in spans if s.name == "dedup.connected_components"
            )
            med = sum(r[2]["skew_med_s"] for r in rows)
            m["spark.task_skew"] = sum(r[2]["skew_max_s"] for r in rows) / med if med else 0.0
            key_wall = sum(r[1] for r in rows)
            m["spark.core_busy_frac"] = m["spark.task_s"] / (key_wall * cores) if key_wall else 0.0
            per_pass.append(m)
        return {name: statistics.median(p[name] for p in per_pass) for name in per_pass[0]}

    def stored_ratio(self) -> float:
        """Bytes left in the ingest sinks per byte of the tables they read."""
        stored = source = 0
        for sink, table in (SINKS[k] for k in self.keys if k in SINKS):
            stored += dir_bytes(os.path.join(tempfile.gettempdir(), sink))
            source += dir_bytes(os.path.join(self.data_dir, f"{table}.parquet"))
        return stored / source if source else 0.0

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def cpu_s(self) -> tuple[float, float]:
        """(engine CPU s, JIT compiler CPU s) so far: the CPU time of this
        process, the driver JVM and the Python workers, without the JVM's
        JIT compiler threads; and the time of those threads."""
        jit = jit_cpu_s(self.jvm)
        return tree_cpu_s(self.pid) - jit, jit

    def live_heap_mb(self) -> float:
        """Driver heap still in use after full collections: what the
        session retains (caches, plans, broadcast state) once the
        workload's passes are done. Objects that pin others are freed
        in stages over about a second (dead py4j proxies release their
        JVM objects, then Spark's ContextCleaner drops the blocks of
        unreachable RDDs), so collect until three readings agree."""
        import gc

        self.spark.catalog.clearCache()
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        readings: list[float] = []
        for _ in range(20):
            gc.collect()
            jvm.java.lang.System.gc()
            readings.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
            if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) <= 1.0:
                break
            time.sleep(0.5)
        return min(readings)

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


def summarize(passes: list[tuple]) -> dict[str, float]:
    """Medians over the untraced timed passes (wall, engine CPU, JIT CPU)
    and the per-key latencies pooled over them."""
    lats = [lat for p in passes for _k, lat, _m in p[3]]
    if not lats:
        raise RuntimeError("no timed execution succeeded")
    t, pct = tail(lats)
    return {
        "pass_s": statistics.median(p[0] for p in passes),
        "pass_cpu_s": statistics.median(p[1] for p in passes),
        "jvm.jit_cpu_s": statistics.median(p[2] for p in passes),
        "query_p50_s": statistics.median(lats),
        "query_tail_s": t,
        "query.tail_pct": pct,
        "query.samples": float(len(lats)),
    }


def run(args) -> dict:
    from check import OracleCheck

    base = base_data_dir(ROOT, args.sf)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        data_dir = base
        if WORKLOADS[args.workload]["layout"] == "ingest":
            from gen import write_ingest_layout

            data_dir = os.path.join(run_dir, "ingest")
            write_ingest_layout(base, data_dir, args.seed)
        private_env(run_dir)
        checker = OracleCheck(base)
        r = Runner(args.workload, args.seed, data_dir, bool(args.trace))
        try:
            setup = r.setup(checker)
            checker.close()
            # untimed passes until pass times stop falling (JIT warm-up)
            warm = r.timed(0, WORKLOADS[args.workload]["warmup"])
            n = r.min_passes
            if args.trace:
                # untraced and traced passes alternate, starting and ending
                # untraced, so both sit at the same point of the warm-up
                # curve and its slope does not count as tracing overhead
                r.tracer.add_stream_listener(r.spark)
                untraced, traced = r.timed(0, 1), []
                start = time.perf_counter()
                while len(traced) < n or time.perf_counter() - start < args.seconds:
                    r.tracer.skip_executions()
                    traced += r.timed(0, 1, traced=True)
                    untraced += r.timed(0, 1)
            else:
                untraced = r.timed(args.seconds, n)
            values = summarize(untraced)
            values["setup_s"] = setup["setup_s"]
            peak_rss_mb = vm_hwm_mb(r.jvm)
            values["live_heap_mb"] = r.live_heap_mb()
            if args.trace:
                layers = r.layer_metrics(traced)
                layers.update(values)
                layers["registry.load_all_s"] = setup["registry.load_all_s"]
                layers["session.build_s"] = setup["session.build_s"]
                layers["sink.stored_bytes_per_input_byte"] = r.stored_ratio()
                layers["jvm.peak_rss_mb"] = peak_rss_mb
                tp = statistics.median(p[0] for p in traced)
                layers["trace.traced_pass_s"] = tp
                layers["trace.overhead_s"] = tp - values["pass_s"]
                layers["trace.accounted_frac"] = (
                    layers["query.plan_s"] + layers["query.exec_s"]
                ) / values["pass_s"]
                write_trace(r, args)
        finally:
            r.stop()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "passes_s": [round(p[0], 4) for p in untraced],
        "tail": f"p{values['query.tail_pct']:.1f} of {int(values['query.samples'])} samples",
        "failed_frac": r.failed / r.attempted,
        "errors": r.errors,
        "check_s": round(checker.check_s, 3),
        "peak_rss_mb": round(peak_rss_mb, 1),
        "passes_cpu_s": [round(p[1], 2) for p in untraced],
        "passes_jit_s": [round(p[2], 2) for p in untraced],
        "warmup_s": [round(p[0], 3) for p in warm],
        "warmup_cpu_s": [round(p[1], 2) for p in warm],
        "checked_s": {k: round(t, 3) for k, t, _m in r.checked},
    }
    print("perfbench " + json.dumps(summary), flush=True)
    names, values = (PER_LAYER, layers) if args.trace else (END_TO_END, values)
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in names.items()},
    }


def write_trace(r: Runner, args) -> None:
    """Spans of the run (name, start, end, parent, key) as JSON lines."""
    out = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        for i, s in enumerate(r.tracer.spans):
            rec = {"id": i, "name": s.name, "start": s.start, "end": s.end,
                   "parent": s.parent, "group": s.key, **s.extra}
            f.write(json.dumps(rec) + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="engine benchmark (see module docstring)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="scale factor (self-test only)")
    args = ap.parse_args(argv)
    for need in ("parquet_to_hyper_app_spark/registry.py", "tools/parity.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
