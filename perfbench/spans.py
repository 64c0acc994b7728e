"""Spans and Spark telemetry for the traced run.

Everything here observes the engine from outside: spans are recorded
around calls into the engine's public functions, and Spark's own
telemetry is read from the in-process status stores (the job/stage store
behind ``statusTracker`` and the SQL execution store), which exist with
the UI disabled, and from a QueryExecutionListener that reports each SQL
execution's own planning time. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import dataclasses
import itertools
import json
import re
import time

# SQL metric name -> per-layer metric (Spark 4.1 Python-worker metrics).
PYTHON_SQL_METRICS = {
    "time to run Python workers": "functions.python_run_ms",
    "time to start Python workers": "functions.python_start_ms",
    "time to initialize Python workers": "functions.python_init_ms",
    "data sent to Python workers": "functions.python_bytes_sent",
    "data returned from Python workers": "functions.python_bytes_received",
}
STAGE_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.gc_ms", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "catalog.input_bytes",
    "catalog.input_rows",
)
_UNITS = {"ms": 1, "s": 1e3, "min": 6e4, "h": 3.6e6, "B": 1, "KiB": 1024,
          "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


@dataclasses.dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


@dataclasses.dataclass
class Planning:
    """One successful SQL execution's own planning, from its
    QueryExecution's planning tracker: the summed phase times (analysis,
    optimization, physical planning) and the epoch seconds the first
    phase started and the last one ended."""

    func: str
    ms: float
    start: float
    end: float


class _PlanningListener:
    """A ``QueryExecutionListener`` implemented through the Py4J callback
    server. Spark's listener bus calls it after each SQL execution with
    the QueryExecution that ran, so the planning recorded here is the
    planning the execution used."""

    def __init__(self, out: list[Planning], conv):
        self._out, self._conv = out, conv

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        phases = list(self._conv.asJava(qe.tracker().phases()).values())
        if phases:
            self._out.append(Planning(
                func_name,
                float(sum(ph.durationMs() for ph in phases)),
                min(ph.startTimeMs() for ph in phases) / 1e3,
                max(ph.endTimeMs() for ph in phases) / 1e3,
            ))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Records spans; a span's parent is the innermost span open when it
    starts. A span opened with ``job_group=True`` also names the Spark
    job group of the work done inside it, so its jobs can be read back
    afterwards. With ``planning=True``, ``planning`` lists every
    successful SQL execution's own planning, in the order the executions
    ended."""

    def __init__(self, spark, *, planning: bool = False):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._ids = itertools.count()
        self._sql_seen = 0  # SQL executions already scanned
        self._epoch = time.time() - time.perf_counter()  # epoch seconds at perf_counter 0
        sc = spark.sparkContext
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._bus = sc._jsc.sc().listenerBus()
        self.planning: list[Planning] = []
        if planning:
            ensure_callback_server_started(sc._gateway)
            spark._jsparkSession.listenerManager().register(_PlanningListener(self.planning, self._conv))

    @contextlib.contextmanager
    def span(self, name: str, *, job_group: bool = False):
        parent = self._open[-1].id if self._open else None
        s = Span(f"{name}#{next(self._ids)}", name, parent, 0.0)
        sc = self.spark.sparkContext
        outer_group = sc.getLocalProperty("spark.jobGroup.id") if job_group else None
        if job_group:
            sc.setJobGroup(s.id, name, False)
        self._open.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            if job_group:
                sc.setLocalProperty("spark.jobGroup.id", outer_group)
            self.spans.append(s)

    def planning_span(self, parent: Span, plan: Planning) -> Span:
        """Record ``plan`` as a span under ``parent``, on the span clock."""
        s = Span(f"spark.plan#{next(self._ids)}", "spark.plan", parent.id,
                 plan.start - self._epoch, plan.end - self._epoch)
        self.spans.append(s)
        return s

    def settle(self) -> int:
        """Wait until Spark's listener bus has delivered every event
        posted so far; returns how many executions ``planning`` holds."""
        self._bus.waitUntilEmpty()
        return len(self.planning)

    def wrap(self, fn, name: str):
        """``fn`` with each call made inside an open span recorded as a
        child span named ``name``."""

        def traced(*args, **kw):
            if not self._open:
                return fn(*args, **kw)
            with self.span(name):
                return fn(*args, **kw)

        return traced

    def children(self, parent: Span, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == parent.id and s.name == name]

    def dump(self, path: str) -> None:
        """Write every span, one JSON object a line, once at the end."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dataclasses.asdict(s)) + "\n")

    # -- Spark status store -------------------------------------------------

    def group_stats(self, walls: dict[str, float]) -> dict[str, dict]:
        """Stats of each job group named in ``walls`` (group -> wall
        seconds of the span that ran it); see ``job_stats``."""
        tracker = self.spark.sparkContext.statusTracker()
        return self.job_stats({g: list(tracker.getJobIdsForGroup(g)) for g in walls}, walls)

    def job_stats(self, jobs: dict[str, list[int]], walls: dict[str, float]) -> dict[str, dict]:
        """Jobs, stages, tasks and stage metrics of each key's jobs, plus
        the Python-worker SQL metrics of the SQL executions that ran
        them. The SQL executions recorded since the previous call are
        scanned once, each attributed to the key whose jobs it ran, so
        pass every key of one unit of work (e.g. a query's build and
        execution) in one call, after all of them have ended."""
        self.settle()
        out = {key: self._stage_stats(ids, walls[key]) for key, ids in jobs.items()}
        for key, metrics in self._python_sql_metrics(jobs).items():
            for name, value in metrics.items():
                out[key][name] += value
        return out

    def _stage_stats(self, job_ids: list[int], wall_s: float) -> dict:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        out = dict.fromkeys(STAGE_METRICS, 0.0)
        out.update(dict.fromkeys(PYTHON_SQL_METRICS.values(), 0.0))
        out["spark.jobs"] = float(len(job_ids))
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = _wait_job(store, jid)
            if job is None:
                continue
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # evicted from the store or never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["spark.executor_run_ms"] += st.executorRunTime()
            out["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["spark.gc_ms"] += st.jvmGcTime()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.spill_bytes"] += st.diskBytesSpilled()
            out["catalog.input_bytes"] += st.inputBytes()
            out["catalog.input_rows"] += st.inputRecords()
        cores = sc.defaultParallelism
        out["spark.slot_util"] = (
            out["spark.executor_run_ms"] / (wall_s * 1e3 * cores) if wall_s > 0 else 0.0
        )
        return out

    def _python_sql_metrics(self, jobs: dict[str, list[int]]) -> dict[str, dict]:
        """Sum, per key, the Python-worker metrics of the new SQL
        executions that ran the key's jobs. Raw accumulator values are
        used while the driver still holds them; otherwise the store's
        formatted value is parsed."""
        owner = {jid: key for key, ids in jobs.items() for jid in ids}
        jvm = self.spark.sparkContext._jvm
        conv = self._conv
        store = self.spark._jsparkSession.sharedState().statusStore()
        acc_ctx = jvm.org.apache.spark.util.AccumulatorContext
        new = conv.asJava(store.executionsList(self._sql_seen, 1 << 20))
        self._sql_seen += len(new)
        out: dict[str, dict] = {}
        for ex in new:
            keys = [owner[j] for j in conv.asJava(ex.jobs().keySet()) if j in owner]
            if not keys:  # work outside every span read here (e.g. a check)
                continue
            metrics = out.setdefault(keys[0], {})
            formatted = None
            seen: set[int] = set()
            for m in conv.asJava(ex.metrics()):
                key = PYTHON_SQL_METRICS.get(m.name())
                acc_id = m.accumulatorId()
                if key is None or acc_id in seen:
                    continue
                seen.add(acc_id)
                acc = acc_ctx.get(acc_id)
                if acc.isDefined():
                    value = float(acc.get().value())
                else:
                    if formatted is None:
                        formatted = store.executionMetrics(ex.executionId())
                    text = formatted.get(acc_id)
                    value = _parse_metric(text.get()) if text.isDefined() else 0.0
                metrics[key] = metrics.get(key, 0.0) + value
        return out


def _wait_job(store, jid: int, timeout_s: float = 5.0):
    """The status store learns of a job's end asynchronously; poll until
    it is no longer running."""
    deadline = time.perf_counter() + timeout_s
    while True:
        try:
            job = store.job(jid)
        except Exception:  # not yet (or no longer) in the store
            job = None
        if job is not None and job.status().toString() != "RUNNING":
            return job
        if time.perf_counter() > deadline:
            return job
        time.sleep(0.005)


def _parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: "2.7 s", "680 ms", "1538.0 KiB",
    or the first line of the "total (min, med, max ...)" form."""
    lines = text.strip().splitlines()
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)

