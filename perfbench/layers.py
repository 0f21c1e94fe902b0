"""Per-layer tracing, measured from outside the engine.

Two sources, both read around the harness's calls into the package:

- **Spans**: the public DataFrame-building functions of each package
  module are wrapped for the run, so the time spent inside each module
  (self time: minus the nested calls into other wrapped modules) is
  known. Nothing in the package changes; the wrappers are set on the
  module objects after import and read the clock only.
- **Spark's own counters**: every operation runs in its own job group.
  After the operation the listener bus is drained and the status tracker
  and the app status store give the jobs, stages and task metrics of
  that group, and the SQL status store gives the SQL executions started
  in the operation (start time, Python/Arrow crossing bytes).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import re
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: Package modules whose public functions get spans, by layer name.
MODULES = {
    "session": "sales_data_etl_pipeline_spark.session",
    "sources.csv": "sales_data_etl_pipeline_spark.sources.csv",
    "sources.parquet": "sales_data_etl_pipeline_spark.sources.parquet",
    "sources.tables": "sales_data_etl_pipeline_spark.sources.tables",
    "cleaning": "sales_data_etl_pipeline_spark.operators.cleaning",
    "pipeline": "sales_data_etl_pipeline_spark.plans.pipeline",
    "analytics": "sales_data_etl_pipeline_spark.plans.analytics",
    "report": "sales_data_etl_pipeline_spark.report",
    "pdfgen": "sales_data_etl_pipeline_spark.pdfgen",
    "dedup": "sales_data_etl_pipeline_spark.operators.dedup",
    "similarity": "sales_data_etl_pipeline_spark.operators.similarity",
    "text": "sales_data_etl_pipeline_spark.operators.text",
    "embeddings": "sales_data_etl_pipeline_spark.operators.embeddings",
    "multimodal": "sales_data_etl_pipeline_spark.operators.multimodal",
    "corpus": "sales_data_etl_pipeline_spark.operators.corpus",
    "ckpt": "sales_data_etl_pipeline_spark.operators.ckpt",
    "streaming": "sales_data_etl_pipeline_spark.streaming.events",
}

#: Modules reported as a ``<module>.build_s`` / ``<module>.action_s`` pair.
PAIRED = ["cleaning", "analytics", "dedup", "similarity", "text", "embeddings",
          "multimodal", "corpus", "ckpt", "streaming"]

#: Parquet sinks of ``run_pipeline``, by output name.
SINKS = {"produtos.parquet": "produtos", "resumo-vendas.parquet": "vendas",
         "empregados.parquet": "empregados"}

LAYER_METRICS = [
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.overhead_s", "s"),
    ("planning.s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.busy_ratio", "ratio"),
    ("scan.input_bytes", "bytes"), ("sources.csv.read_factor", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("spill.bytes", "bytes"),
    ("sink.output_bytes", "bytes"), ("sources.parquet.write_s", "s"),
    ("pipeline.et_produtos_s", "s"), ("pipeline.et_vendas_s", "s"),
    ("pipeline.et_empregados_s", "s"), ("analytics.report5_s", "s"),
    ("report.save_s", "s"),
    ("arrow.bytes_to_python", "bytes"), ("arrow.bytes_from_python", "bytes"),
    ("ckpt.persisted_rdds_leaked", "count"), ("streaming.batch_s", "s"),
    ("session.start_s", "s"), ("session.warm_s", "s"),
    ("tasks.failed", "count"),
    ("trace.pass_s", "s"), ("trace.overhead_s", "s"),
] + [(f"{m}.{k}", "s") for m in PAIRED for k in ("build_s", "action_s")]

_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_TOTAL = r"total \(min, med, max \(stageId: taskId\)\)\n[\d.]+ [KMGT]?i?B"
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PY_METRICS = {"data sent to Python workers": "arrow.bytes_to_python",
               "data returned from Python workers": "arrow.bytes_from_python"}


def _total_bytes(formatted: str) -> float:
    """Bytes of a formatted SQL size metric: "3.2 KiB" or its "total" form."""
    m = _SIZE.search(formatted.split("\n", 1)[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class Spans:
    """Self time per module, from wrappers around public functions."""

    def __init__(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.sinks: dict[str, float] = defaultdict(float)
        self._stack: list[list] = []  # [module, child seconds]
        self._saved: list[tuple] = []

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def span(*args, **kwargs):
            frame = [layer, 0.0]
            self._stack.append(frame)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dur = time.perf_counter() - t0
                self._stack.pop()
                self.self_s[layer] += dur - frame[1]
                if self._stack:
                    self._stack[-1][1] += dur
                if fn.__name__ == "write_parquet":
                    path = kwargs.get("path", args[1] if len(args) > 1 else "")
                    self.sinks[str(path).rstrip("/").rsplit("/", 1)[-1]] += dur

        return span

    def install(self) -> None:
        """Wrap every public function that takes or returns Spark objects."""
        for layer, name in MODULES.items():
            mod = importlib.import_module(name)
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn):
                    continue
                if fn.__module__ != name:
                    continue
                hints = " ".join(map(str, fn.__annotations__.values()))
                if "DataFrame" not in hints and "SparkSession" not in hints:
                    continue
                self._saved.append((mod, attr, fn))
                setattr(mod, attr, self._wrap(layer, fn))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    def take(self) -> tuple[dict, dict]:
        out, sinks = dict(self.self_s), dict(self.sinks)
        self.self_s.clear()
        self.sinks.clear()
        return out, sinks


class Tracer:
    """Collects the per-layer counters of each operation of a pass."""

    def __init__(self, spark, cores: int) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.spans = Spans()
        self.batches: list[float] = []
        self._listener = None
        self._seq = 0
        self.pass_metrics: dict[str, float] = defaultdict(float)

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches

        class _Batches(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                batches.append(event.progress.durationMs.get("triggerExecution", 0) / 1000)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Batches()
        self.spark.streams.addListener(self._listener)
        self.spans.install()

    def stop(self) -> None:
        self.spans.uninstall()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- one operation -----------------------------------------------------
    @contextmanager
    def op(self, owner: str | None, metric: str | None):
        """Run one operation in its own job group and add its counters.

        ``owner`` names the module the harness's action belongs to; None
        means the module with the most self time in the operation.
        ``metric``, if given, also gets the operation's wall time. The body
        sets ``mark["action"] = time.time()`` right before the harness's
        own action, which splits build time from action time.
        """
        self._seq += 1
        group = f"perfbench-{self._seq}"
        exec0 = self.sql_store.executionsCount()
        rdds0 = self.sc._jsc.getPersistentRDDs().size()
        self.sc.setJobGroup(group, group)
        mark: dict[str, float] = {}
        wall0 = time.time()
        try:
            yield mark
        finally:
            self.sc.setJobGroup(None, None)
            wall = time.time() - wall0
            if metric:
                self.pass_metrics[metric] += wall
            self._collect(group, exec0, rdds0, wall0 + wall, wall, mark, owner)

    def _collect(self, group, exec0, rdds0, end, wall, mark, owner) -> None:
        m = self.pass_metrics
        self.jsc.listenerBus().waitUntilEmpty(30_000)
        intervals, job_start = [], {}
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            m["scheduler.jobs"] += 1
            submitted = self.store.job(job).submissionTime()
            if submitted.isDefined():
                job_start[job] = submitted.get().getTime() / 1e3
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else []:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                m["scheduler.stages"] += 1
                m["scheduler.tasks"] += sd.numTasks()
                m["tasks.failed"] += sd.numFailedTasks()
                m["executor.run_s"] += sd.executorRunTime() / 1e3
                m["executor.cpu_s"] += sd.executorCpuTime() / 1e9
                m["executor.gc_s"] += sd.jvmGcTime() / 1e3
                m["scan.input_bytes"] += sd.inputBytes()
                m["sink.output_bytes"] += sd.outputBytes()
                m["shuffle.read_bytes"] += sd.shuffleReadBytes()
                m["shuffle.write_bytes"] += sd.shuffleWriteBytes()
                m["spill.bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
        m["scheduler.overhead_s"] += max(wall - _union_ms(intervals) / 1e3, 0.0)

        # Planning: from a SQL execution's start to its first job (the
        # execution-start event precedes optimization and physical planning).
        exec1 = self.sql_store.executionsCount()
        if exec1 > exec0:
            execs = self.sql_store.executionsList(exec0, exec1 - exec0)
            for i in range(execs.size()):
                ex = execs.apply(i)
                jobs = [int(j) for j in re.findall(r"\d+", ex.jobs().keySet().toString())]
                starts = [job_start[j] for j in jobs if j in job_start]
                if starts:
                    m["planning.s"] += max(min(starts) - ex.submissionTime() / 1e3, 0.0)
                self._python_bytes(ex)

        leaked = self.sc._jsc.getPersistentRDDs().size() - rdds0
        m["ckpt.persisted_rdds_leaked"] += max(leaked, 0)
        m["streaming.batch_s"] += sum(self.batches)
        self.batches.clear()

        self_s, sinks = self.spans.take()
        for layer, s in self_s.items():
            m[f"{layer}.build_s"] += s
        for sink, s in sinks.items():
            if sink in SINKS:
                m[f"pipeline.et_{SINKS[sink]}_s"] += s
            m["sources.parquet.write_s"] += s
        action = mark.get("action")
        if action is not None:
            ops = [k for k in PAIRED if k in self_s]
            who = owner or (max(ops, key=lambda k: self_s[k]) if ops else None)
            if who:
                m[f"{who}.action_s"] += end - action

    def _python_bytes(self, ex) -> None:
        names = ex.metrics().toString()
        if "Python workers" not in names:
            return
        # The metric map is keyed by boxed longs, which py4j cannot pass;
        # read the values off its string form instead.
        values = self.sql_store.executionMetrics(ex.executionId()).toString()
        for name, acc in re.findall(r"SQLPlanMetric\(([^,]+),(\d+),", names):
            key = _PY_METRICS.get(name)
            hit = key and re.search(rf"(?<!\d){acc} -> ({_TOTAL}|{_SIZE.pattern})", values)
            if hit:
                self.pass_metrics[key] += _total_bytes(hit.group(1))

    def take_pass(self, pass_wall: float) -> dict[str, float]:
        m = dict(self.pass_metrics)
        m["executor.busy_ratio"] = m.get("executor.run_s", 0.0) / (pass_wall * self.cores)
        m["trace.pass_s"] = pass_wall
        self.pass_metrics.clear()
        return m


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
