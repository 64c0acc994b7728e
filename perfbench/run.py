"""The engine's benchmark: three workloads, end-to-end and per-layer metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0

Workloads (frozen in ``workloads.json``; inputs come from ``--seed``):

- ``registry``: one client runs a frozen panel of registry queries (the
  cost-stratum medians of the relational and of the curation name
  lists, as ``panel_profile.py`` derives them) at sf0.1 through the noop
  sink, in an order the seed shuffles, in whole passes until
  ``--seconds`` of timed work is spent.
- ``stream_replay``: an open loop. A generator thread publishes seeded
  ``events`` day-files into a watched directory on a fixed cadence for
  ``--seconds``; ``StreamingPipeline`` runs its three views on them.
- ``ingest_cycle``: a closed loop of ``runner.run_batch_cycle`` over a
  seeded raw CSV, each cycle into a fresh lake, for ``--seconds``.

Untimed work comes before each timed window, because operations keep
getting faster over the first tens of seconds while the JIT compiles
(``workloads.json`` records each curve): the registry check pass,
stream_replay's warm-up files, and ingest_cycle's set-ups on the full CSV
and one more cycle.

Every workload runs in one process on a ``local[<cpus>]`` session sized
through the env vars the engine reads (``SPARK_GRAFT_CPUS``,
``SPARK_GRAFT_DRIVER_MEM``). An "operation" is one query execution, one
view micro-batch, or one reporting-view refresh of an ingest cycle.

End-to-end metrics (``--trace 0``; the first five are gated in
BENCHMARK.json, the rest are printed in the details line):
  setup_s        median (the mean, with two) over SETUP_REPS set-ups of
                   session start + warm-up
  query_p50_ms   operation latency (query build + execute, micro-batch
                   trigger, view refresh)
  queries_per_s  operations completed per measured second
  fresh_p50_ms   input available -> output written (query issued -> done;
                   file published -> view batch done; cycle start -> view
                   refreshed)
  cycle_s        median wall of one panel pass / of one file through all
                   three views / of one ingest cycle
  query_p90_ms, fresh_p90_ms, error_rate (failed / attempted operations),
  peak_rss_mb    (peak RSS of the driver JVM plus this Python process)

``--trace 1`` runs the same workload with spans and Spark telemetry and
prints the per-layer metrics of ``PER_LAYER`` instead (``workloads.json``
maps each to the end-to-end metric it should move). ``spark.plan_ms`` is
the planning the noop write's own QueryExecution did (reported by a
QueryExecutionListener), so it is part of ``spark.exec_ms``, the wall of
that write. ``trace.overhead_frac`` compares traced with untraced
operations of the same run: registry queries run both ways in
alternating order, ingest cycles in ABBA order, and on stream_replay
every other published file is traced (fresh_p50 of each set). Outputs are checked
outside the timed spans; a failed check counts as a failed operation.
The last stdout line is the result JSON; the line before it carries the
run's stamps (session conf, versions, host stamps, phase times).
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import datagen
import duckdb
from spans import Tracer

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
WORK = ROOT / ".perfbench_work"
SPEC = json.loads((HERE / "workloads.json").read_text())
SETUP_REPS = 2  # the first launches the JVM, the second restarts the session in it

END_TO_END = {
    "setup_s": "s", "query_p50_ms": "ms", "queries_per_s": "1/s",
    "fresh_p50_ms": "ms", "cycle_s": "s",
}
# Printed in the details line only: with 10-24 operations a run, p90 has
# fewer than ten samples beyond it, and peak RSS follows the JVM's heap
# sizing; on a shared 4-core host their run-to-run spread exceeds any
# usable regression bound.
REPORTED = {"query_p90_ms": "ms", "fresh_p90_ms": "ms", "peak_rss_mb": "MB", "error_rate": "frac"}
PER_LAYER = {
    "session.start_ms": "ms", "plans.build_ms": "ms", "plans.build_jobs": "count",
    "spark.plan_ms": "ms", "spark.exec_ms": "ms", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.slot_util": "frac",
    "spark.executor_cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "catalog.input_bytes": "bytes",
    "catalog.input_rows": "count", "functions.python_run_ms": "ms",
    "functions.python_start_ms": "ms", "functions.python_init_ms": "ms",
    "functions.python_bytes_sent": "bytes", "functions.python_bytes_received": "bytes",
    "caching.shared_calls": "count", "caching.shared_builds": "count",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_memory_bytes": "bytes",
    "streaming.backlog_files_max": "count", "streaming.gen_late_ms": "ms",
    "operators.ingest_ms": "ms", "sources.publish_ms": "ms",
    "runner.validate_ms": "ms", "sources.refresh_ms": "ms",
    "sources.bytes_written": "bytes", "sources.write_amp": "ratio",
    "trace.overhead_frac": "frac", "trace.span_coverage_min": "frac",
}


def configure_env() -> dict:
    """Fit the session to the host through the engine's own env vars and
    keep every file Spark, the JVM and Python workers write inside WORK."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kib = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    driver_mb = max(2048, min(8192, int(mem_kib * 0.15 / 1024)))
    for sub in ("spark-local", "tmp"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
        TMPDIR=str(WORK / "tmp"),
        # every JVM (spark-submit's launcher too): temp files in WORK, and
        # no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:+PerfDisableSharedMem",
    )
    return {"cpus": cpus, "driver_mem": f"{driver_mb}m", "mem_total_mb": mem_kib // 1024}


# ---------------------------------------------------------------------------
# helpers


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(values)
    if not s:
        return float("nan")
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kib = int(next(ln for ln in fh if ln.startswith("VmHWM")).split()[1])
    py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kib + py_kib) / 1024


class Program:
    """The engine's public entry points, imported from the checkout."""

    def __init__(self):
        sys.path.insert(0, str(ROOT))
        import __spark_entry__ as entry
        from streaming_ecom_analytics_spark import caching, hostprobe, runner
        from streaming_ecom_analytics_spark.plans import REGISTRY
        from streaming_ecom_analytics_spark.schema import TESTDATA_EVENT_SCHEMA, TESTDATA_TABLES
        from streaming_ecom_analytics_spark.session import get_spark
        from streaming_ecom_analytics_spark.sources.lake import Lake
        from streaming_ecom_analytics_spark.streaming import windows
        from streaming_ecom_analytics_spark.streaming.pipeline import StreamingPipeline

        spec = importlib.util.spec_from_file_location("driver_sim", ROOT / "scripts" / "driver_sim.py")
        driver_sim = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(driver_sim)
        self.entry, self.caching, self.hostprobe, self.runner = entry, caching, hostprobe, runner
        self.registry, self.get_spark, self.Lake = REGISTRY, get_spark, Lake
        self.windows, self.StreamingPipeline = windows, StreamingPipeline
        self.event_schema, self.tables = TESTDATA_EVENT_SCHEMA, TESTDATA_TABLES
        self.value_hash = driver_sim.value_hash

    def start(self):
        return self.get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            },
        )

    def release(self) -> None:
        self.caching.release_tracked()
        self.caching.release_shared()


class Run:
    """State shared by every workload: session, counts, stamps, spans."""

    def __init__(self, args, program: Program, env: dict):
        self.args, self.p, self.env = args, program, env
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.details: dict = {}
        self.tracer: Tracer | None = None
        self.dir = WORK / f"run-{os.getpid()}"
        self.dir.mkdir(parents=True, exist_ok=True)
        self.lake_dir = datagen.write_lake(str(WORK / "lake" / f"seed{args.seed}"), args.seed)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Accumulate the wall time of a run phase into the details."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            ph = self.details.setdefault("phase_s", {})
            ph[name] = ph.get(name, 0.0) + time.perf_counter() - t0

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.failures.append(what)

    def setups(self, warmup, teardown=None) -> tuple[float, float]:
        """SETUP_REPS set-ups (session start + ``warmup(spark, i)``); all
        but the last are torn down (``teardown()``, then the session
        stops). The first one launches the JVM, the others restart the
        session in it. Returns the medians in seconds of the whole set-up
        and of the session start alone, and stamps the host."""
        totals, starts = [], []
        with self.phase("setup"):
            for i in range(SETUP_REPS):
                if self.spark is not None:
                    if teardown is not None:
                        teardown()
                    self.p.release()
                    self.spark.stop()
                t0 = time.perf_counter()
                self.spark = self.p.start()
                t1 = time.perf_counter()
                warmup(self.spark, i)
                totals.append(time.perf_counter() - t0)
                starts.append(t1 - t0)
            self.p.release()
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        with self.phase("stamp"):
            self.details["host_stamp_before"] = self.host_stamp()
        return statistics.median(totals), statistics.median(starts)

    def host_stamp(self) -> dict:
        """``hostprobe.quick_stamp``'s two probes, with the scan pinned to
        this run's own lineitem file instead of the quick stamp's
        default path outside the checkout."""
        hp = self.p.hostprobe
        return {
            "gemm_gflops": hp.blas_gflops(n=1024, reps=1),
            "io_mrows_s": hp.io_scan_mrows_s(self.spark, path=f"{self.lake_dir}/lineitem.parquet", reps=1),
        }

    def conf_stamp(self) -> dict:
        sc = self.spark.sparkContext
        import pyspark

        return {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "pyspark": pyspark.__version__,
            "spark": self.spark.version,
            "jvm": sc._jvm.java.lang.System.getProperty("java.version"),
            **self.env,
        }

    def close(self) -> None:
        """Stop the session and the JVM, wait for the JVM to exit, and
        remove this run's files."""
        if self.spark is not None:
            from pyspark import SparkContext

            proc = self.spark.sparkContext._gateway.proc
            self.p.release()
            self.spark.stop()
            SparkContext._gateway.shutdown()
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(self.dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# registry


def registry_workload(run: Run) -> dict:
    families = SPEC["registry"]["families"]
    p, seed, trace = run.p, run.args.seed, run.args.trace
    registry = p.entry.queries()
    listed = {q: f for f, spec in families.items() for q in spec["queries"]}
    for q in listed:
        if q not in registry:  # the frozen lists name a query the program lacks
            run.attempted += 1
            run.fail(f"missing:{q}")
    run.details["unlisted_queries"] = sum(q not in listed for q in registry)
    panel = [q for f in families.values() for q in f["panel"] if q in registry]
    warm = [q for f in families.values() for q in f["warmup"] if q in registry]
    rng = random.Random(seed)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def warmup(spark, _i) -> None:
        for q in warm:
            noop(registry[q](spark, run.lake_dir))

    setup_s, start_s = run.setups(warmup)
    run.layer["session.start_ms"] = start_s * 1e3
    spark = run.spark
    oracles = duckdb.connect()
    for t in p.tables:
        oracles.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.lake_dir}/{t}.parquet'")
    tracer = None
    counts = {"calls": 0, "builds": 0}
    if trace:
        tracer = run.tracer = Tracer(spark, planning=True)
        install_caching_counters(p.caching, counts)

    def plain(q: str) -> float:
        t0 = time.perf_counter()
        noop(registry[q](spark, run.lake_dir))
        return time.perf_counter() - t0

    traced_rows: list[dict] = []

    def traced(q: str, record: bool = True) -> float:
        c0 = dict(counts)
        mark = tracer.settle()  # earlier work's events delivered, outside the spans
        with tracer.span("query") as qs:
            with tracer.span("plans.build", job_group=True) as b:
                df = registry[q](spark, run.lake_dir)
            # Spark plans the write inside it: the noop write wraps the
            # query in a command with a QueryExecution of its own.
            with tracer.span("spark.exec", job_group=True) as ex:
                noop(df)
        if record:  # telemetry is read after the query span has closed
            stats = tracer.group_stats({b.id: b.end - b.start, ex.id: ex.end - ex.start})
            build, exe = stats[b.id], stats[ex.id]
            # the noop write is the query's last SQL execution
            plan = tracer.planning[-1] if len(tracer.planning) > mark else None
            pl = tracer.planning_span(ex, plan) if plan else None
            traced_rows.append({
                "name": q, "build": b.ms, "plan": plan.ms if plan else 0.0, "exec": ex.ms,
                # the plan span lies inside the exec span
                "coverage": (b.ms + ex.ms) / qs.ms,
                "plan_inside_exec": pl is not None and ex.start - 0.005 <= pl.start <= pl.end <= ex.end + 0.005,
                "calls": counts["calls"] - c0["calls"], "builds": counts["builds"] - c0["builds"],
                "build_jobs": build["spark.jobs"], "slot_util": exe["spark.slot_util"],
                "stats": {k: build[k] + exe[k] for k in exe if k != "spark.slot_util"},
            })
        return qs.ms / 1e3

    def attempt(q: str, execute) -> float | None:
        try:
            return execute(q)
        except Exception as exc:  # a crash is a failed operation
            run.fail(f"{q}: {type(exc).__name__}: {str(exc).splitlines()[0][:160]}")
            return None

    # Each pick is checked first, untimed, which also warms its code
    # paths; the caches the check filled are dropped, then the timed
    # execution runs. Passes are whole, so every query weighs the same in
    # the percentiles (the panel's latencies cluster, and a part-pass
    # moves p50 across the gap between clusters); they repeat until
    # --seconds of timed time is spent. Later passes skip the check, the
    # first one made.
    lat, pass_walls, bad = [], [], set()
    while True:
        timed = 0.0
        for q in rng.sample(panel, len(panel)):
            if q in bad:
                continue
            run.attempted += 1
            if not pass_walls:
                with run.phase("check"):
                    problem = check_query(run, registry, oracles, q)
                if problem:
                    run.fail(problem)
                    bad.add(q)
                    continue
            p.release()
            wall = attempt(q, traced if trace else plain)
            if wall is not None:
                timed += wall
                lat.append(wall * 1e3)
                run.details.setdefault("ops_ms", []).append([q, round(wall * 1e3, 1)])
        pass_walls.append(timed)
        if not timed or sum(pass_walls) >= run.args.seconds:
            break
    untraced_s = traced_s = 0.0
    if trace:
        # Tracing overhead: every panel query twice more, warm from the
        # pass above, untraced first on even picks and traced first on
        # odd ones; caches are dropped before each execution.
        quiet = lambda q: traced(q, record=False)  # noqa: E731
        for i, q in enumerate(rng.sample(panel, len(panel))):
            order = (plain, quiet) if i % 2 == 0 else (quiet, plain)
            walls = []
            for execute in order:
                run.attempted += 1
                p.release()
                walls.append(attempt(q, execute))
            if None not in walls:
                untraced_s += walls[order.index(plain)]
                traced_s += walls[order.index(quiet)]
    with run.phase("check"):
        for q in warm:  # warm-up outputs are checked too, as one more operation each
            run.attempted += 1
            problem = check_query(run, registry, oracles, q)
            if problem:
                run.fail(problem)
    oracles.close()
    by_family = {f: [ms for q, ms in run.details.get("ops_ms", []) if listed[q] == f] for f in families}
    run.details.update(
        passes=len(pass_walls), executions=len(lat),
        family_p50_ms={f: pct(v, 0.5) for f, v in by_family.items()},
    )
    if trace:
        layer_from_queries(run, traced_rows, (traced_s - untraced_s) / untraced_s if untraced_s else 0.0)
        split = ("build", "plan", "exec", "build_jobs", "calls", "builds")
        run.details["family_split"] = {
            f: {k: mean(r[k] for r in traced_rows if listed[r["name"]] == f) for k in split}
            | {"python_run_ms": mean(r["stats"]["functions.python_run_ms"]
                                     for r in traced_rows if listed[r["name"]] == f)}
            for f in families
        }
    # A query's inputs are in place when it is issued, so its result is
    # as fresh as it is fast.
    return {
        "setup_s": setup_s,
        "query_p50_ms": pct(lat, 0.5),
        "query_p90_ms": pct(lat, 0.9),
        "queries_per_s": len(lat) / sum(pass_walls) if lat else 0.0,
        "fresh_p50_ms": pct(lat, 0.5),
        "fresh_p90_ms": pct(lat, 0.9),
        "cycle_s": statistics.median(pass_walls),
    }


def install_caching_counters(caching, counts: dict) -> None:
    """Count calls into caching.shared_subtree / shared_driver_value and
    into the builders passed to them. The plans import both names inside
    function bodies, so replacing the module attributes reaches them."""

    def wrap(fn, builder_pos: int):
        def counted(*args):
            counts["calls"] += 1
            args = list(args)
            builder = args[builder_pos]

            def counted_builder():
                counts["builds"] += 1
                return builder()

            args[builder_pos] = counted_builder
            return fn(*args)

        return counted

    caching.shared_subtree = wrap(caching.shared_subtree, 1)
    caching.shared_driver_value = wrap(caching.shared_driver_value, 2)


def layer_from_queries(run: Run, rows: list[dict], overhead: float) -> None:
    L = run.layer
    L["plans.build_ms"] = mean(r["build"] for r in rows)
    L["plans.build_jobs"] = mean(r["build_jobs"] for r in rows)
    L["spark.plan_ms"] = mean(r["plan"] for r in rows)
    L["spark.exec_ms"] = mean(r["exec"] for r in rows)
    L["spark.slot_util"] = mean(r["slot_util"] for r in rows)
    for key in rows[0]["stats"] if rows else ():
        if key != "spark.executor_run_ms":
            L[key] = mean(r["stats"][key] for r in rows)
    L["caching.shared_calls"] = mean(r["calls"] for r in rows)
    L["caching.shared_builds"] = mean(r["builds"] for r in rows)
    L["trace.overhead_frac"] = overhead
    cover = min((r["coverage"] for r in rows), default=1.0)
    L["trace.span_coverage_min"] = cover
    for r in rows:
        if r["coverage"] < 0.95:
            run.fail(f"span coverage {r['coverage']:.3f} < 0.95 for {r['name']}")
        if not r["plan_inside_exec"]:
            run.fail(f"no planning of the noop write inside its exec span for {r['name']}")


def check_query(run: Run, registry: dict, oracles, q: str) -> str | None:
    """Registry queries with an oracle twin must match DuckDB on the same
    parquet (columns, row count and driver_sim's order-insensitive value
    hash); the others must run through the noop sink without error.
    Returns why the check failed, or None."""
    oracle = run.p.registry[q].oracle
    try:
        df = registry[q](run.spark, run.lake_dir)
        if oracle is None:
            df.write.format("noop").mode("overwrite").save()
            return None
        got, want = df.toPandas(), oracles.sql(oracle).df()
    except Exception as exc:
        return f"check:{q}: {type(exc).__name__}: {str(exc).splitlines()[0][:160]}"
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return f"check:{q}: {len(got)} rows {sorted(got.columns)} vs oracle {len(want)} rows {sorted(want.columns)}"
    if run.p.value_hash(got) != run.p.value_hash(want):
        return f"check:{q}: value hash differs from the oracle"
    return None


# ---------------------------------------------------------------------------
# stream_replay


def stream_workload(run: Run) -> dict:
    import pyarrow.parquet as pq

    spec = SPEC["stream_replay"]
    cadence = spec["cadence_s"]
    n_warm = spec["warmup_files"]
    n_measured = max(1, int(run.args.seconds / cadence))
    first = 1 + n_warm  # day 0 warms each set-up, days 1..n_warm the last one
    n_files = first + n_measured
    days = datagen.stream_days(
        run.args.seed, n_days=n_files, rows_per_day=spec["rows_per_day"],
        late_share=spec["late_share"], late_max_s=spec["late_max_s"],
    )
    staging = run.dir / "staging"
    staging.mkdir()
    for i, t in enumerate(days):
        pq.write_table(t, staging / f"day{i:03d}.parquet")

    def publish(i: int, watch: Path) -> None:
        """Make day i visible atomically (write a copy, then rename)."""
        tmp = watch.parent / f".pub{i:03d}"
        shutil.copyfile(staging / f"day{i:03d}.parquet", tmp)
        os.replace(tmp, watch / f"day{i:03d}.parquet")

    pipelines = []

    def stop_views() -> None:
        for q in pipelines[-1].queries:
            q.stop()

    def warmup(spark, i: int) -> None:
        base = run.dir / f"setup{i}"
        watch = base / "watch"
        watch.mkdir(parents=True)
        pipe = run.p.StreamingPipeline(spark, str(base / "views"), str(base / "ckpt"))
        pipe.start_views(
            pipe.file_events_source(str(watch), max_files_per_trigger=spec["max_files_per_trigger"]),
            available_now=False,
        )
        pipelines.append(pipe)
        publish(0, watch)
        wait_files(pipe.queries, 1, timeout_s=120)

    setup_s, start_s = run.setups(warmup, stop_views)
    run.layer["session.start_ms"] = start_s * 1e3
    pipe = pipelines[-1]
    watch = run.dir / f"setup{SETUP_REPS - 1}" / "watch"

    # Untimed warm-up in a closed loop: each file is published once every
    # view has read the one before (a trigger keeps speeding up over the
    # first files while the JIT compiles).
    with run.phase("warm"):
        for f in range(1, first):
            publish(f, watch)
            wait_files(pipe.queries, 1 + f, timeout_s=120)

    published: dict[int, float] = {}  # file index -> wall time published
    late_ms: list[float] = []

    def generator(t0: float) -> None:
        for k in range(n_measured):
            due = t0 + k * cadence
            time.sleep(max(0.0, due - time.time()))
            if run.tracer is None or k % 2 == 0:  # traced run: spans on odd k only
                publish(first + k, watch)
            else:
                with run.tracer.span("generator.publish"):
                    publish(first + k, watch)
            published[first + k] = time.time()
            late_ms.append((published[first + k] - due) * 1e3)

    if run.args.trace:
        run.tracer = Tracer(run.spark)
    t0 = time.time()
    gen = threading.Thread(target=generator, args=(t0,), name="perfbench-generator")
    gen.start()
    gen.join()
    wait_files(pipe.queries, n_files, timeout_s=120)
    # views in StreamingPipeline.start_views order
    names = ("funnel_5m", "sliding_revenue", "active_users_daily")
    progress = {n: [json.loads(pr.json) for pr in q.recentProgress] for n, q in zip(names, pipe.queries)}
    group_jobs = [
        list(run.spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))
        for q in pipe.queries
    ]
    for q in pipe.queries:
        q.stop()
    run.attempted += len(pipe.queries) * n_files

    # batch -> file: one file per trigger, taken in publish order, so the
    # file source's log offset is the file index
    trig, fresh, done_at, read_at, batches = [], [], {}, {}, []
    fresh_by_trace = ([], [])  # untraced, traced files (file first + k is traced for odd k)
    for name, progs in progress.items():
        for pr in progs:
            src = pr["sources"][0]
            if src["numInputRows"] == 0:
                continue
            f = int(src["endOffset"]["logOffset"])
            start = _iso_epoch(pr["timestamp"])
            end = start + pr["durationMs"]["triggerExecution"] / 1e3
            read_at.setdefault(f, {})[name] = start
            if f not in published:
                continue
            batches.append(pr)
            trig.append(pr["durationMs"]["triggerExecution"])
            fresh.append((end - published[f]) * 1e3)
            fresh_by_trace[(f - first) % 2].append(fresh[-1])
            run.details.setdefault("batch_ms", []).append([f, name, trig[-1], round(fresh[-1], 1)])
            done_at.setdefault(f, []).append(end)
    missing = len(pipe.queries) * n_measured - len(trig)
    if missing:
        run.fail(f"{missing} view batches never read a published file", missing)
    last_end = max((max(v) for v in done_at.values()), default=time.time())
    all_views = [max(v) - published[f] for f, v in done_at.items() if len(v) == len(pipe.queries)]

    for problem in check_stream(run, pipe, watch):  # every batch of that view fails
        run.fail(problem, n_files)
    run.details.update(files=n_measured, warmup_files=n_warm, batches=len(trig), cadence_s=cadence)

    if run.args.trace:
        L = run.layer
        dur = lambda key: mean(pr["durationMs"].get(key, 0) for pr in batches)  # noqa: E731
        L["streaming.trigger_ms"] = dur("triggerExecution")
        L["streaming.add_batch_ms"] = dur("addBatch")
        L["streaming.planning_ms"] = dur("queryPlanning")
        L["streaming.wal_commit_ms"] = dur("walCommit")
        L["streaming.commit_offsets_ms"] = dur("commitOffsets")
        ops = lambda key: mean(sum(o.get(key, 0) for o in pr["stateOperators"]) for pr in batches)  # noqa: E731
        L["streaming.state_commit_ms"] = ops("commitTimeMs")
        L["streaming.state_rows"] = ops("numRowsTotal")
        L["streaming.state_memory_bytes"] = ops("memoryUsedBytes")
        backlog = 0
        for k, t in published.items():
            slowest = min(sum(1 for f, v in read_at.items() if f <= k and v.get(n, 1e300) <= t)
                          for n in progress)
            backlog = max(backlog, k + 1 - slowest)
        L["streaming.backlog_files_max"] = backlog
        L["streaming.gen_late_ms"] = max(late_ms)
        n_batches = sum(len(v) for v in progress.values())
        jobs = [j for js in group_jobs for j in js]
        stats = run.tracer.job_stats({"views": jobs}, {"views": last_end - t0})["views"]
        for key, value in stats.items():
            if key not in ("spark.executor_run_ms", "spark.slot_util"):
                L[key] = value / n_batches
        L["spark.slot_util"] = stats["spark.slot_util"]
        # Telemetry is read after the window, so within it tracing only
        # adds the generator's spans, which cover every other file.
        untraced_p50, traced_p50 = pct(fresh_by_trace[0], 0.5), pct(fresh_by_trace[1], 0.5)
        L["trace.overhead_frac"] = (traced_p50 - untraced_p50) / untraced_p50
    return {
        "setup_s": setup_s,
        "query_p50_ms": pct(trig, 0.5),
        "query_p90_ms": pct(trig, 0.9),
        "queries_per_s": len(trig) / (last_end - t0),
        "fresh_p50_ms": pct(fresh, 0.5),
        "fresh_p90_ms": pct(fresh, 0.9),
        "cycle_s": statistics.median(all_views) if all_views else float("nan"),
    }


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def wait_files(queries, n_files: int, timeout_s: float) -> None:
    """Wait until every query has read ``n_files`` files with data."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        done = 0
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(f"streaming view failed: {q.exception()}")
            n = sum(1 for pr in q.recentProgress if pr["sources"][0]["numInputRows"] > 0)
            done += n >= n_files
        if done == len(queries):
            return
        time.sleep(0.02)


def check_stream(run: Run, pipe, watch: Path) -> list[str]:
    """Each view's final output equals the same windows builder run with
    watermark=None over every published event. Returns the views that
    differ."""
    spark, w = run.spark, run.p.windows
    events = spark.read.schema(run.p.event_schema).parquet(str(watch))
    builders = {
        "funnel_5m": w.tumbling_event_counts,
        "sliding_revenue": w.sliding_revenue,
        "active_users_daily": w.windowed_active_users,
    }
    problems = []
    for name, build in builders.items():
        got = spark.read.parquet(f"{pipe.warehouse_dir}/{name}").toPandas()
        want = build(events, watermark=None).toPandas()
        if len(got) != len(want) or run.p.value_hash(got) != run.p.value_hash(want):
            problems.append(f"stream view {name}: {len(got)} rows differ from the {len(want)}-row reference")
    return problems


# ---------------------------------------------------------------------------
# ingest_cycle


def ingest_workload(run: Run) -> dict:
    spec = SPEC["ingest_cycle"]
    p, seed = run.p, run.args.seed
    csv = run.dir / "raw.csv"
    per_day = datagen.write_raw_csv(str(csv), seed, n_days=spec["n_days"],
                                    rows_per_day=spec["rows_per_day"], null_share=spec["null_share"])
    expected = sum(min(n, spec["daily_sample_n"]) for n in per_day)
    csv_bytes = csv.stat().st_size
    views = list(p.runner.REPORTING_VIEWS)

    class TimedLake(p.Lake):
        """Records when each reporting refresh starts and ends; in the
        traced run, refreshes and the processed-layer write are spans."""

        def __init__(self, root):
            super().__init__(root)
            self.refreshes: list[tuple[float, float]] = []

        def refresh(self, df, table):
            t0 = time.perf_counter()
            try:
                if run.tracer is None:
                    return super().refresh(df, table)
                with run.tracer.span("sources.refresh"):
                    return super().refresh(df, table)
            finally:
                self.refreshes.append((t0, time.perf_counter()))

        def write(self, df, layer, table, **kw):
            if run.tracer is None or layer != "processed":
                return super().write(df, layer, table, **kw)
            with run.tracer.span("sources.publish_write"):
                return super().write(df, layer, table, **kw)

    def cycle(root: Path, csv_path: Path):
        lake = TimedLake(str(root))
        t0 = time.perf_counter()
        res = p.runner.run_batch_cycle(
            run.spark, lake, csv_path=str(csv_path), daily_sample_n=spec["daily_sample_n"]
        )
        return res, lake, t0, time.perf_counter()

    def warmup(spark, i: int) -> None:
        res, _, _, _ = cycle(run.dir / f"setup-lake{i}", csv)
        if res["failed"]:
            raise RuntimeError(f"warm-up cycle failed views: {res['failed']}")
        shutil.rmtree(run.dir / f"setup-lake{i}", ignore_errors=True)

    setup_s, start_s = run.setups(warmup)
    run.layer["session.start_ms"] = start_s * 1e3

    tracer = None
    if run.args.trace:
        tracer = Tracer(run.spark)
        p.runner.ingest_events = tracer.wrap(p.runner.ingest_events, "operators.ingest_events")
        p.runner.serialize_events = tracer.wrap(p.runner.serialize_events, "sources.serialize_events")

    # One untimed cycle first: the first cycle after the set-ups is still
    # the slowest (workloads.json records the curve).
    run.attempted += 1
    res, _, _, _ = cycle(run.dir / "warm-lake", csv)
    if res["failed"] or res["refreshed"] != views or res["ingest"].total_events != expected:
        run.fail(f"warm cycle: failed={res['failed']} total_events={res['ingest'].total_events}")
    shutil.rmtree(run.dir / "warm-lake", ignore_errors=True)

    walls, refresh_ms, fresh, traced_rows = [], [], [], []
    traced_walls = []
    t_start = time.perf_counter()
    i = 0
    while True:
        root = run.dir / f"lake{i}"
        traced = bool(tracer) and i % 4 in (1, 2)  # untraced/traced in ABBA order
        run.tracer = tracer if traced else None  # TimedLake records spans only when set
        run.attempted += 1
        try:
            if traced:
                with tracer.span("ingest_cycle", job_group=True) as s:
                    res, lake, c0, c1 = cycle(root, csv)
            else:
                res, lake, c0, c1 = cycle(root, csv)
        except Exception as exc:
            run.fail(f"cycle {i}: {type(exc).__name__}: {str(exc).splitlines()[0][:160]}")
        else:
            ok = (res["failed"] == [] and res["refreshed"] == views
                  and res["ingest"].total_events == expected)
            if not ok:
                run.fail(f"cycle {i}: failed={res['failed']} refreshed={len(res['refreshed'])} "
                         f"total_events={res['ingest'].total_events} expected={expected}")
            run.details.setdefault("cycles_s", []).append(round(c1 - c0, 3))
            if not traced:
                walls.append(c1 - c0)
                refresh_ms += [(b - a) * 1e3 for a, b in lake.refreshes]
                fresh += [(b - c0) * 1e3 for _, b in lake.refreshes]
            else:
                traced_walls.append(c1 - c0)
                ms = lambda name: sum(c.ms for c in tracer.children(s, name))  # noqa: E731
                publish = tracer.children(s, "sources.publish_write")
                refresh = tracer.children(s, "sources.refresh")
                row = tracer.group_stats({s.id: c1 - c0})[s.id]
                row["operators.ingest_ms"] = ms("operators.ingest_events")
                row["sources.publish_ms"] = ms("sources.serialize_events") + ms("sources.publish_write")
                # runner self time from the end of the publish to the first refresh
                row["runner.validate_ms"] = (
                    (refresh[0].start - publish[-1].end) * 1e3 if publish and refresh else 0.0
                )
                row["sources.refresh_ms"] = ms("sources.refresh")
                row["sources.bytes_written"] = dir_bytes(root)
                row["sources.write_amp"] = row["sources.bytes_written"] / csv_bytes
                traced_rows.append(row)
        shutil.rmtree(root, ignore_errors=True)
        i += 1
        # a new cycle starts while measured time remains (and, traced, to
        # complete the ABBA block)
        if time.perf_counter() - t_start >= run.args.seconds and (not tracer or i % 4 == 0):
            break
    run.details.update(cycles=i, expected_total_events=expected, csv_bytes=csv_bytes)

    run.tracer = tracer
    if tracer:
        L = run.layer
        for key in traced_rows[0] if traced_rows else ():
            if key != "spark.executor_run_ms":
                L[key] = mean(r[key] for r in traced_rows)
        L["trace.overhead_frac"] = (mean(traced_walls) - mean(walls)) / mean(walls) if walls else 0.0
    return {
        "setup_s": setup_s,
        "query_p50_ms": pct(refresh_ms, 0.5),
        "query_p90_ms": pct(refresh_ms, 0.9),
        "queries_per_s": len(refresh_ms) / sum(walls) if walls else 0.0,
        "fresh_p50_ms": pct(fresh, 0.5),
        "fresh_p90_ms": pct(fresh, 0.9),
        "cycle_s": statistics.median(walls) if walls else float("nan"),
    }


# ---------------------------------------------------------------------------

WORKLOADS = {
    "registry": registry_workload,
    "stream_replay": stream_workload,
    "ingest_cycle": ingest_workload,
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.perf_counter()
    env = configure_env()
    program = Program()  # raises when the checkout holds no engine
    run = Run(args, program, env)
    try:
        e2e = WORKLOADS[args.workload](run)
        e2e["peak_rss_mb"] = peak_rss_mb(run.jvm_pid)
        with run.phase("stamp"):
            stamp_after = run.host_stamp()
        run.details.update(conf=run.conf_stamp(), host_stamp_after=stamp_after)
    finally:
        with run.phase("close"):
            run.close()
    run.details["phase_s"]["total"] = time.perf_counter() - t0

    if run.tracer is not None:
        spans_path = WORK / f"spans-{args.workload}-seed{args.seed}.jsonl"
        run.tracer.dump(str(spans_path))
        run.details["spans"] = str(spans_path.relative_to(ROOT))
    if args.trace:
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    e2e["error_rate"] = run.failed / max(1, run.attempted)
    run.details.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        failures=run.failures[:20],
        reported={k: {"value": float(e2e[k]), "unit": u} for k, u in REPORTED.items()},
    )
    print(json.dumps({"details": run.details}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
